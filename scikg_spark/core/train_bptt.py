"""Full-BPTT training of the MIMO tagger (M6 complete): hand-derived
backpropagation through the ENTIRE network — gated input projections, masked
BiLSTM encoder, tag-context LSTM decoder, both output heads — in numpy.

Mirrors the reference's training recipe exactly (citations into
/root/reference):
  * loss      — per-batch weighted NLL summed over tokens of both heads,
                divided by the number of statements (utils.py:2936-2950)
  * weights   — class weight 1000/freq per tag (train.py:143-157)
  * optimizer — SGD lr=0.01, weight_decay=5e-4, momentum=0.9
                (utils.py:2906), torch semantics: v = mu*v + (g + wd*p),
                p -= lr*v
  * clipping  — global grad norm clipped to 5 BEFORE the optimizer step
                (utils.py:2952 nn.utils.clip_grad_norm_)
  * batching  — each batch sorted by length descending (utils.py:2917-2919)
  * targets   — hard tag ids, or SOFT per-token distributions (the S7
                prior-tag streams; reference ``load_prior_tag``
                utils.py:554-615 rewrites OUT to distribution pairs) —
                weighted cross-entropy that reduces to the hard NLL on
                one-hot rows

The LM featurizer stays FROZEN (no gradient through ``lm_cell``) — in the
reference the LM features arrive precomputed from a separately-trained
language model (utils.py:2892 ``raw_LM_SENTENCEs``); only the gate/projection
matrices ``w_lm``/``g_lm`` train, exactly like the reference's
``Stmt_Extraction_Net`` trains its lm gates over fixed LM inputs.

All dims derive from the model's arrays, so the same code gradient-checks on
a tiny float64 model (tests/test_training.py) and trains the full
300-hidden float32 one.
"""

from __future__ import annotations

import math

import numpy as np

from scikg_spark.core.neural import (
    CAP_TAGS, POS_TAGS, _log_softmax, _sigmoid, word_vectors)
from scikg_spark.core.tags import CAP_TAG2ID, POS_TAG2ID


def _lstm_fwd(cell, x, h, c):
    """One batched LSTM step returning (h2, c2, cache). Must match
    neural._LSTMCell.step bit-for-bit (same concat/slice layout)."""
    xh = np.concatenate([x, h], axis=1)
    z = xh @ cell.w + cell.b
    H = cell.hidden
    i = _sigmoid(z[:, :H])
    f = _sigmoid(z[:, H:2 * H])
    g = np.tanh(z[:, 2 * H:3 * H])
    o = _sigmoid(z[:, 3 * H:])
    c2 = f * c + i * g
    h2 = o * np.tanh(c2)
    return h2, c2, (xh, i, f, g, o, c, c2)


def _lstm_bwd(cell, dh2, dc2, cache, gw, gb):
    """Backward of one step: accumulates into (gw, gb), returns
    (dx, dh_prev, dc_prev)."""
    xh, i, f, g, o, c_prev, c2 = cache
    tc = np.tanh(c2)
    do = dh2 * tc
    dc = dc2 + dh2 * o * (1.0 - tc * tc)
    dzi = (dc * g) * i * (1.0 - i)
    dzf = (dc * c_prev) * f * (1.0 - f)
    dzg = (dc * i) * (1.0 - g * g)
    dzo = do * o * (1.0 - o)
    dz = np.concatenate([dzi, dzf, dzg, dzo], axis=1)
    gw += xh.T @ dz
    gb += dz.sum(axis=0)
    dxh = dz @ cell.w.T
    in_dim = cell.w.shape[0] - cell.hidden
    return dxh[:, :in_dim], dxh[:, in_dim:], dc * f


def _momentum_step(trainer, grads):
    """The reference optimizer step for every trainer here: clip the GLOBAL
    grad norm to ``trainer.clip`` (utils.py:2952), then momentum SGD with
    weight decay in torch semantics (utils.py:2906) over
    ``trainer._params()``, storing each new value through
    ``trainer._assign``."""
    total = math.sqrt(sum(float((g * g).sum()) for g in grads.values()))
    scale = trainer.clip / total if total > trainer.clip else 1.0
    for k, p in trainer._params().items():
        g = grads[k] * scale + trainer.wd * p
        trainer.vel[k] = trainer.mom * trainer.vel[k] + g
        trainer._assign(k, (p - trainer.lr * trainer.vel[k]).astype(p.dtype))


def _dlogits(g_logp, g_p, p):
    """d loss / d logits when both logsoftmax(l) (upstream grad g_logp) and
    softmax(l) = p (upstream grad g_p) are consumed downstream."""
    return (g_logp - p * g_logp.sum(axis=1, keepdims=True)
            + p * (g_p - (g_p * p).sum(axis=1, keepdims=True)))


class BPTTTrainer:
    """Trains EVERY active parameter of a MimoTagger by backprop through
    time. ``trainer.step(...)`` is one reference-recipe SGD step; weights
    stay plug-compatible with ``neural.save_tagger`` / ``tag_statements(
    mode='neural', weights_path=...)``."""

    def __init__(self, model, lr=0.01, weight_decay=5e-4, momentum=0.9,
                 clip=5.0):
        self.model = model
        self.lr, self.wd, self.mom, self.clip = lr, weight_decay, momentum, clip
        self.vel = {k: np.zeros_like(v) for k, v in self._params().items()}

    def _params(self) -> dict:
        """Trainable parameters: paths gated off contribute no gradient (the
        reference's requires_grad filter, utils.py:2903-2906); lm_cell is
        frozen (see module docstring)."""
        m = self.model
        p = {"enc_f.w": m.enc_f.w, "enc_f.b": m.enc_f.b,
             "enc_b.w": m.enc_b.w, "enc_b.b": m.enc_b.b,
             "dec.w": m.dec.w, "dec.b": m.dec.b,
             "head_fact": m.head_fact, "head_cond": m.head_cond}
        if m.use_pos:
            p.update({"pos_emb": m.pos_emb, "w_pos": m.w_pos, "g_pos": m.g_pos})
        if m.use_cap:
            p.update({"cap_emb": m.cap_emb, "w_cap": m.w_cap, "g_cap": m.g_cap})
        if m.use_lm:
            p.update({"w_lm": m.w_lm, "g_lm": m.g_lm})
        return p

    def _assign(self, key, value):
        obj, attr = self.model, key
        if "." in key:
            head, attr = key.split(".")
            obj = getattr(self.model, head)
        setattr(obj, attr, value)

    # -- forward with caches + loss + full backward ---------------------------
    def loss_and_grads(self, words, pos, cap, fact_ids, cond_ids,
                       w_fact, w_cond):
        """Weighted-NLL loss and gradients for one (already length-sorted)
        batch. Forward math is kept in lockstep with MimoTagger._decode
        (equality pinned by tests/test_training.py)."""
        m = self.model
        H = m.enc_f.hidden
        NT = m.head_fact.shape[1]
        D = m.enc_f.w.shape[0] - H
        dtype = m.head_fact.dtype
        lens = np.array([len(w) for w in words])
        B, T = len(words), int(lens.max())

        # ---- inputs (cached per statement) ----
        x = np.zeros((B, T, D), dtype=dtype)
        in_caches = []
        for bi in range(B):
            n = lens[bi]
            wv = word_vectors(words[bi], dim=D, table=m.word_table).astype(dtype)
            feat = wv.copy()
            cch: dict = {}
            if m.use_pos:
                ids = np.array([POS_TAG2ID.get(p_, len(POS_TAGS)) for p_ in pos[bi]])
                pe = m.pos_emb[ids]
                a = pe @ m.g_pos
                s = _sigmoid(a)
                bp = pe @ m.w_pos
                feat += s * bp
                cch.update(pos_ids=ids, pe=pe, s_pos=s, b_pos=bp)
            if m.use_cap:
                ids = np.array([CAP_TAG2ID.get(c_, len(CAP_TAGS)) for c_ in cap[bi]])
                ce = m.cap_emb[ids]
                a = ce @ m.g_cap
                s = _sigmoid(a)
                bp = ce @ m.w_cap
                feat += s * bp
                cch.update(cap_ids=ids, ce=ce, s_cap=s, b_cap=bp)
            if m.use_lm:
                lm = m._lm_features(wv.astype(np.float32)).astype(dtype)
                a = lm @ m.g_lm
                s = _sigmoid(a)
                bp = lm @ m.w_lm
                feat += s * bp
                cch.update(lm=lm, s_lm=s, b_lm=bp)
            x[bi, :n] = feat
            in_caches.append(cch)

        # ---- masked BiLSTM encoder (cached) ----
        valid = lens[:, None] > np.arange(T)[None, :]
        hf = np.zeros((B, H), dtype=dtype)
        cf = np.zeros((B, H), dtype=dtype)
        hb = np.zeros((B, H), dtype=dtype)
        cb = np.zeros((B, H), dtype=dtype)
        enc = np.zeros((B, T, 2 * H), dtype=dtype)
        fcaches: list = [None] * T
        bcaches: list = [None] * T
        for t in range(T):
            v = valid[:, t:t + 1]
            h2, c2, cc = _lstm_fwd(m.enc_f, x[:, t], hf, cf)
            hf = np.where(v, h2, hf)
            cf = np.where(v, c2, cf)
            enc[:, t, :H] = np.where(v, hf, 0.0)
            fcaches[t] = cc
            tb = T - 1 - t
            vb = valid[:, tb:tb + 1]
            h2, c2, cc = _lstm_fwd(m.enc_b, x[:, tb], hb, cb)
            hb = np.where(vb, h2, hb)
            cb = np.where(vb, c2, cb)
            enc[:, tb, H:] = np.where(vb, hb, 0.0)
            bcaches[tb] = cc

        # ---- tag-context decoder (cached) ----
        hd = np.zeros((B, H), dtype=dtype)
        cd = np.zeros((B, H), dtype=dtype)
        prev = np.zeros((B, 2 * NT), dtype=dtype)
        dcaches: list = [None] * T
        hds = np.empty((B, T, H), dtype=dtype)
        pfs = np.empty((B, T, NT), dtype=dtype)
        pcs = np.empty((B, T, NT), dtype=dtype)
        fact_logp = np.empty((B, T, NT), dtype=dtype)
        cond_logp = np.empty((B, T, NT), dtype=dtype)
        for t in range(T):
            inp = np.concatenate([enc[:, t], prev], axis=1)
            hd, cd, cc = _lstm_fwd(m.dec, inp, hd, cd)
            flp = _log_softmax(hd @ m.head_fact)
            pf = np.exp(flp)
            xc = np.concatenate([hd, pf], axis=1) if m.enhance else hd
            clp = _log_softmax(xc @ m.head_cond)
            pc = np.exp(clp)
            prev = np.concatenate([pf, pc], axis=1)
            dcaches[t] = cc
            hds[:, t] = hd
            pfs[:, t] = pf
            pcs[:, t] = pc
            fact_logp[:, t] = flp
            cond_logp[:, t] = clp

        # ---- weighted NLL + upstream grads on the log-probs ----
        wf = np.asarray(w_fact, dtype=dtype)
        wc = np.asarray(w_cond, dtype=dtype)
        dflp = np.zeros((B, T, NT), dtype=dtype)
        dclp = np.zeros((B, T, NT), dtype=dtype)
        loss = 0.0
        for bi in range(B):
            yf = np.asarray(fact_ids[bi])
            yc = np.asarray(cond_ids[bi])
            if yf.ndim == 2:
                # SOFT targets: per-token prior tag distributions (the S7
                # prior-tag streams, reference load_prior_tag
                # utils.py:554-615 which rewrites OUT to distribution pairs).
                # Weighted cross-entropy H_w(q, p) = -sum_j w_j q_j log p_j;
                # one-hot rows reduce exactly to the hard-id branch below.
                n = yf.shape[0]
                loss -= float((wf[None, :] * yf * fact_logp[bi, :n]).sum())
                loss -= float((wc[None, :] * yc * cond_logp[bi, :n]).sum())
                dflp[bi, :n] -= wf[None, :] * yf.astype(dtype)
                dclp[bi, :n] -= wc[None, :] * yc.astype(dtype)
            else:
                tf = np.arange(len(yf))
                loss -= float((wf[yf] * fact_logp[bi, tf, yf]).sum())
                loss -= float((wc[yc] * cond_logp[bi, tf, yc]).sum())
                dflp[bi, tf, yf] -= wf[yf]
                dclp[bi, tf, yc] -= wc[yc]
        loss /= B
        dflp /= B
        dclp /= B
        # exposed for the forward-equality test vs MimoTagger._forward
        self._last = (fact_logp, cond_logp, lens)

        grads = {k: np.zeros_like(p) for k, p in self._params().items()}

        # ---- decoder backward (through tag-context recurrence) ----
        d_enc = np.zeros_like(enc)
        dhd = np.zeros((B, H), dtype=dtype)
        dcd = np.zeros((B, H), dtype=dtype)
        dprev = np.zeros((B, 2 * NT), dtype=dtype)
        for t in range(T - 1, -1, -1):
            hd = hds[:, t]
            pf = pfs[:, t]
            pc = pcs[:, t]
            d_lc = _dlogits(dclp[:, t], dprev[:, NT:], pc)
            xc = np.concatenate([hd, pf], axis=1) if m.enhance else hd
            grads["head_cond"] += xc.T @ d_lc
            d_xc = d_lc @ m.head_cond.T
            if m.enhance:
                d_hd_c = d_xc[:, :H]
                d_pf_extra = d_xc[:, H:]
            else:
                d_hd_c = d_xc
                d_pf_extra = 0.0
            d_lf = _dlogits(dflp[:, t], dprev[:, :NT] + d_pf_extra, pf)
            grads["head_fact"] += hd.T @ d_lf
            dhd_total = dhd + d_lf @ m.head_fact.T + d_hd_c
            d_inp, dhd, dcd = _lstm_bwd(
                m.dec, dhd_total, dcd, dcaches[t],
                grads["dec.w"], grads["dec.b"])
            d_enc[:, t] += d_inp[:, :2 * H]
            dprev = d_inp[:, 2 * H:]

        # ---- masked BiLSTM backward ----
        d_x = np.zeros_like(x)
        dh = np.zeros((B, H), dtype=dtype)
        dc = np.zeros((B, H), dtype=dtype)
        for t in range(T - 1, -1, -1):  # forward direction: reverse time
            v = valid[:, t:t + 1].astype(dtype)
            dh_tot = dh + d_enc[:, t, :H] * v
            dxt, dhp, dcp = _lstm_bwd(
                m.enc_f, dh_tot * v, dc * v, fcaches[t],
                grads["enc_f.w"], grads["enc_f.b"])
            dh = dhp + dh_tot * (1.0 - v)
            dc = dcp + dc * (1.0 - v)
            d_x[:, t] += dxt
        dh = np.zeros((B, H), dtype=dtype)
        dc = np.zeros((B, H), dtype=dtype)
        for tb in range(T):  # backward direction: its state flows T-1 -> 0
            v = valid[:, tb:tb + 1].astype(dtype)
            dh_tot = dh + d_enc[:, tb, H:] * v
            dxt, dhp, dcp = _lstm_bwd(
                m.enc_b, dh_tot * v, dc * v, bcaches[tb],
                grads["enc_b.w"], grads["enc_b.b"])
            dh = dhp + dh_tot * (1.0 - v)
            dc = dcp + dc * (1.0 - v)
            d_x[:, tb] += dxt

        # ---- gated-input backward ----
        for bi in range(B):
            n = lens[bi]
            cch = in_caches[bi]
            df = d_x[bi, :n]
            if m.use_pos:
                pe, s, bp = cch["pe"], cch["s_pos"], cch["b_pos"]
                grads["w_pos"] += pe.T @ (df * s)
                da = (df * bp) * s * (1.0 - s)
                grads["g_pos"] += pe.T @ da
                dpe = (df * s) @ m.w_pos.T + da @ m.g_pos.T
                np.add.at(grads["pos_emb"], cch["pos_ids"], dpe)
            if m.use_cap:
                ce, s, bp = cch["ce"], cch["s_cap"], cch["b_cap"]
                grads["w_cap"] += ce.T @ (df * s)
                da = (df * bp) * s * (1.0 - s)
                grads["g_cap"] += ce.T @ da
                dce = (df * s) @ m.w_cap.T + da @ m.g_cap.T
                np.add.at(grads["cap_emb"], cch["cap_ids"], dce)
            if m.use_lm:
                lm, s, bp = cch["lm"], cch["s_lm"], cch["b_lm"]
                grads["w_lm"] += lm.T @ (df * s)
                da = (df * bp) * s * (1.0 - s)
                grads["g_lm"] += lm.T @ da

        return float(loss), grads

    # -- one SGD step ----------------------------------------------------------
    def step(self, words, pos, cap, fact_ids, cond_ids,
             w_fact=None, w_cond=None):
        """One reference-recipe step: sort batch desc by length, backprop,
        clip the GLOBAL grad norm to ``clip``, momentum-SGD with weight
        decay. Returns the batch loss."""
        NT = self.model.head_fact.shape[1]
        if w_fact is None:
            w_fact = np.ones(NT, dtype=np.float32)
        if w_cond is None:
            w_cond = np.ones(NT, dtype=np.float32)
        order = sorted(range(len(words)), key=lambda i: len(words[i]),
                       reverse=True)
        loss, grads = self.loss_and_grads(
            [words[i] for i in order], [pos[i] for i in order],
            [cap[i] for i in order], [fact_ids[i] for i in order],
            [cond_ids[i] for i in order], w_fact, w_cond)
        _momentum_step(self, grads)
        return loss


class EnsembleTrainer:
    """Trains the per-tag combiner of a MimoEnsemble over FROZEN single
    models (train_ensemble.py:1-147 / Stmt_Extraction_Net.py:429-480:
    y = sum_i logp_i * w_i + b per head, log-softmax on top, weighted NLL,
    the same SGD/clip recipe)."""

    def __init__(self, ensemble, lr=0.01, weight_decay=5e-4, momentum=0.9,
                 clip=5.0):
        self.ens = ensemble
        self.lr, self.wd, self.mom, self.clip = lr, weight_decay, momentum, clip
        self.vel = {k: np.zeros_like(v) for k, v in self._params().items()}

    def _params(self):
        e = self.ens
        return {"w_fact": e.w_fact, "b_fact": e.b_fact,
                "w_cond": e.w_cond, "b_cond": e.b_cond}

    def _assign(self, key, value):
        setattr(self.ens, key, value)

    def step(self, words, pos, cap, fact_ids, cond_ids,
             w_fact=None, w_cond=None):
        e = self.ens
        NT = e.b_fact.shape[0]
        if w_fact is None:
            w_fact = np.ones(NT, dtype=np.float32)
        if w_cond is None:
            w_cond = np.ones(NT, dtype=np.float32)
        order = sorted(range(len(words)), key=lambda i: len(words[i]),
                       reverse=True)
        words = [words[i] for i in order]
        pos = [pos[i] for i in order]
        cap = [cap[i] for i in order]
        fact_ids = [fact_ids[i] for i in order]
        cond_ids = [cond_ids[i] for i in order]

        # frozen single-model log-probs
        flps, clps, lens = [], [], None
        for m in e.models:
            f, c, lens = m.predict_distrib(words, pos, cap)
            flps.append(f)
            clps.append(c)

        grads = {k: np.zeros_like(p) for k, p in self._params().items()}
        B = len(words)
        loss = 0.0
        for head, lps, w_vec, b_vec, wts, ids in (
                ("fact", flps, e.w_fact, e.b_fact, np.asarray(w_fact), fact_ids),
                ("cond", clps, e.w_cond, e.b_cond, np.asarray(w_cond), cond_ids)):
            for bi in range(B):
                n = lens[bi]
                y = sum(lps[i][bi, :n] * w_vec[i] for i in range(len(e.models)))
                y = y + b_vec
                logp = _log_softmax(y, axis=1)
                p = np.exp(logp)
                yids = np.asarray(ids[bi])
                tf = np.arange(len(yids))
                loss -= float((wts[yids] * logp[tf, yids]).sum())
                g_logp = np.zeros_like(logp)
                g_logp[tf, yids] -= wts[yids]
                d_y = g_logp - p * g_logp.sum(axis=1, keepdims=True)
                for i in range(len(e.models)):
                    grads[f"w_{head}"][i] += (lps[i][bi, :n] * d_y).sum(axis=0)
                grads[f"b_{head}"] += d_y.sum(axis=0)
        loss /= B
        for g in grads.values():
            g /= B
        _momentum_step(self, grads)
        return float(loss)

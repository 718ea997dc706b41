"""word2vec binary-format reader/writer (S5 — the reference loads
``pubmed-vectors=50.bin`` through gensim, load_pretrained_word_embeddings.py:47-63;
the blob itself is not shipped).

The classic word2vec C binary format is public and trivial: an ASCII header
``"<vocab_size> <dim>\\n"``, then per word the token bytes terminated by a
space, followed by ``dim`` little-endian float32s (optionally a trailing
newline). This reader makes the engine consume REAL pretrained vectors the
moment a blob is available: pass the resulting (matrix, word2id) as the
broadcast embedding table in place of the hashing-trick stand-in.
"""

from __future__ import annotations

import struct

import numpy as np


def read_word2vec_bin(path: str, max_words: int | None = None):
    """-> (matrix float32 [n, dim], word2id dict). Adds <pad> row 0 and
    <unk> row 1, mirroring the reference's padded table (utils.py:155-169)."""
    with open(path, "rb") as f:
        header = f.readline().decode("utf-8").strip()
        vocab_size, dim = (int(x) for x in header.split())
        n = vocab_size if max_words is None else min(vocab_size, max_words)
        matrix = np.zeros((n + 2, dim), dtype=np.float32)
        word2id = {"<pad>": 0, "<unk>": 1}
        for i in range(n):
            chars = bytearray()
            while True:
                ch = f.read(1)
                if ch in (b" ", b""):
                    break
                if ch != b"\n":  # some writers prepend newlines
                    chars.extend(ch)
            word = chars.decode("utf-8", errors="replace")
            vec = np.frombuffer(f.read(4 * dim), dtype="<f4")
            matrix[i + 2] = vec
            word2id[word] = i + 2
    return matrix, word2id


def write_word2vec_bin(path: str, words, matrix) -> None:
    """Inverse writer (fixtures / interchange)."""
    matrix = np.asarray(matrix, dtype="<f4")
    assert len(words) == len(matrix)
    with open(path, "wb") as f:
        f.write(f"{len(words)} {matrix.shape[1]}\n".encode())
        for word, vec in zip(words, matrix):
            f.write(word.encode("utf-8") + b" ")
            f.write(struct.pack(f"<{matrix.shape[1]}f", *vec))
            f.write(b"\n")


def train_skipgram(sentences, dim: int = 50, window: int = 5,
                   negatives: int = 5, epochs: int = 15, lr: float = 0.025,
                   min_count: int = 1, seed: int = 824, batch: int = 1024):
    """Skip-gram with negative sampling (word2vec SGNS), deterministic numpy.

    The reference consumes a FROZEN pretrained word2vec matrix
    (load_pretrained_word_embeddings.py:47-63; the 50-d pubmed blob is
    Dropbox-only), so this trains the equivalent matrix from the shipped
    corpora: unigram^0.75 negative table, dynamic window (uniform 1..window
    per center), linear lr decay, minibatched vectorized updates with a
    duplicate-index-AVERAGING scatter (``_scatter_mean`` — a summed scatter
    takes lr×count steps at a stale parameter value and diverges on hot
    words). Negatives colliding with the batch's true context word or its
    center are resampled (then masked if still colliding) — keeping them
    biases gradients toward shrinking true-pair scores, and collisions are
    frequent on small vocabularies. Returns
    ``(vocab_words, input_matrix, per_epoch_mean_loss)`` — rows of
    ``input_matrix`` align with ``vocab_words`` (frequency-descending), ready
    for :func:`write_word2vec_bin`.
    """
    from collections import Counter

    toks = [[w.lower() for w in s] for s in sentences]
    counts = Counter(w for s in toks for w in s)
    vocab = [w for w, c in counts.most_common() if c >= min_count]
    w2i = {w: i for i, w in enumerate(vocab)}
    V = len(vocab)
    rng = np.random.default_rng(seed)
    w_in = (rng.standard_normal((V, dim)) / np.sqrt(dim)).astype(np.float32)
    w_out = np.zeros((V, dim), dtype=np.float32)
    freq = np.array([counts[w] for w in vocab], dtype=np.float64) ** 0.75
    p_neg = freq / freq.sum()

    pairs = []
    for s in toks:
        ids = [w2i[w] for w in s if w in w2i]
        for i, c in enumerate(ids):
            b = int(rng.integers(1, window + 1))
            for j in range(max(0, i - b), min(len(ids), i + b + 1)):
                if j != i:
                    pairs.append((c, ids[j]))
    pairs = np.asarray(pairs, dtype=np.int64)
    if len(pairs) == 0:
        return vocab, w_in, []

    def _sigm(x):
        return 1.0 / (1.0 + np.exp(-np.clip(x, -12.0, 12.0)))

    def _scatter_mean(w, idx, grad, step):
        # duplicate indices within a batch AVERAGE (not sum): a hot word in
        # hundreds of a batch's pairs otherwise takes an lr×count step at a
        # stale parameter value and diverges (true per-pair SGD never does)
        uniq, inv, cnt = np.unique(idx, return_inverse=True,
                                   return_counts=True)
        np.add.at(w, idx,
                  (-step * grad / cnt[inv][:, None]).astype(np.float32))

    losses = []
    for ep in range(epochs):
        order = rng.permutation(len(pairs))
        lr_ep = lr * (1.0 - ep / epochs) + 1e-4
        ep_loss, n_pair = 0.0, 0
        for s0 in range(0, len(order), batch):
            idx = order[s0:s0 + batch]
            c, o = pairs[idx, 0], pairs[idx, 1]
            neg = rng.choice(V, size=(len(idx), negatives), p=p_neg)
            # a drawn negative equal to the pair's true context (or its
            # center) would push the true pair apart; redraw collisions a
            # few rounds, then mask survivors out of loss and gradients
            bad = (neg == o[:, None]) | (neg == c[:, None])
            for _ in range(8):
                if not bad.any():
                    break
                neg[bad] = rng.choice(V, size=int(bad.sum()), p=p_neg)
                bad = (neg == o[:, None]) | (neg == c[:, None])
            keep = (~bad).astype(np.float32)
            v = w_in[c]
            u = w_out[o]
            un = w_out[neg]
            s_pos = _sigm(np.sum(v * u, axis=1))
            s_neg = _sigm(np.einsum("bd,bkd->bk", v, un)) * keep
            ep_loss -= float(np.log(s_pos + 1e-9).sum()
                             + (np.log(1.0 - s_neg + 1e-9) * keep).sum())
            n_pair += len(idx)
            d_v = (s_pos - 1.0)[:, None] * u \
                + np.einsum("bk,bkd->bd", s_neg, un)
            d_u = (s_pos - 1.0)[:, None] * v
            d_un = s_neg[:, :, None] * v[:, None, :]
            _scatter_mean(w_in, c, d_v, lr_ep)
            _scatter_mean(w_out, o, d_u, lr_ep)
            _scatter_mean(w_out, neg.reshape(-1),
                          d_un.reshape(-1, dim), lr_ep)
        losses.append(round(ep_loss / n_pair, 4))
    return vocab, w_in, losses

"""Seeded input generation for the KG-construction benchmark.

Every input is a pure function of ``(seed, sizes)``: the vocabulary is a
Zipf draw over syllable-built words (with plural variants, so stage-3
MinHash-LSH has near-duplicate mentions to link), and pages are dressed as
annotated statements by the program's own page synthesizer
(``scikg_spark.core.synth``), which keys statement structure on the doc id
only. The program under test receives only the generated rows.
"""

from __future__ import annotations

import itertools
import random

_ONSETS = ["b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s",
           "t", "v", "z", "br", "cl", "dr", "gr", "pl", "pr", "st", "tr"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "io", "ou"]
_CODAS = ["", "", "", "n", "r", "s", "l", "x", "m", "t"]


def _syllable(rng: random.Random) -> str:
    return rng.choice(_ONSETS) + rng.choice(_VOWELS) + rng.choice(_CODAS)


def make_vocab(rng: random.Random, n_words: int, plural_share: float = 0.3,
               taken: set[str] | None = None) -> list[str]:
    """``n_words`` distinct words; about ``plural_share`` of the base words
    are followed by their ``-s`` variant (a near-duplicate surface form with
    3-shingle Jaccard >= 0.8 for words of 5+ letters)."""
    taken = set() if taken is None else taken
    out: list[str] = []
    while len(out) < n_words:
        word = "".join(_syllable(rng) for _ in range(rng.randint(2, 4)))
        if word in taken or word.endswith("s"):
            continue
        taken.add(word)
        out.append(word)
        if rng.random() < plural_share and len(out) < n_words:
            variant = word + "s"
            taken.add(variant)
            out.append(variant)
    return out


def zipf_cum_weights(n: int, s: float = 1.05) -> list[float]:
    return list(itertools.accumulate(1.0 / (r ** s) for r in range(1, n + 1)))


def draw_tokens(rng: random.Random, vocab: list[str], cum: list[float],
                n_docs: int, min_len: int = 40, max_len: int = 120
                ) -> list[list[str]]:
    return [rng.choices(vocab, cum_weights=cum, k=rng.randint(min_len, max_len))
            for _ in range(n_docs)]


def pages_rows(doc_tokens: list[list[str]], first_doc: int) -> list[dict]:
    """Page rows ``(url, warc_ts, html, text, lang)`` for consecutive doc ids."""
    from scikg_spark.core.synth import page_from_tokens

    return [page_from_tokens(f"d{first_doc + i}", toks)
            for i, toks in enumerate(doc_tokens)]


def build_corpus(seed: int, n_docs: int, n_words: int) -> list[list[str]]:
    """Token lists of a crawl: ``n_docs`` docs over an ``n_words`` vocabulary."""
    rng = random.Random(seed)
    vocab = make_vocab(rng, n_words)
    rng.shuffle(vocab)
    return draw_tokens(rng, vocab, zipf_cum_weights(len(vocab)), n_docs)


def build_catchup(seed: int, n_docs: int, n_words: int, delta_share: float,
                  new_word_share: float = 0.25
                  ) -> tuple[list[list[str]], list[list[str]]]:
    """(base docs, delta docs). The delta is ``delta_share`` of the base's
    size; ``new_word_share`` of its tokens come from words the base never
    used — plural variants of base words plus fresh words — so new mentions
    link into, and can bridge, clusters the base already committed."""
    rng = random.Random(seed)
    vocab = make_vocab(rng, n_words)
    rng.shuffle(vocab)
    cum = zipf_cum_weights(len(vocab))
    base = draw_tokens(rng, vocab, cum, n_docs)
    used = {w for doc in base for w in doc}
    variants = [w + "s" for w in vocab
                if not w.endswith("s") and w + "s" not in used][: n_words // 8]
    fresh = make_vocab(rng, max(1, n_words // 16), plural_share=0.0,
                       taken=set(vocab) | set(variants))
    new_words = variants + fresh
    rng.shuffle(new_words)
    new_cum = zipf_cum_weights(len(new_words))
    delta = []
    for toks in draw_tokens(rng, vocab, cum, max(1, int(n_docs * delta_share))):
        n_new = int(len(toks) * new_word_share)
        for k, w in zip(rng.sample(range(len(toks)), n_new),
                        rng.choices(new_words, cum_weights=new_cum, k=n_new)):
            toks[k] = w
        delta.append(toks)
    return base, delta

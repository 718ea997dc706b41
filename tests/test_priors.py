"""S7 prior-tag binary scan + P7 confidence threshold tests."""

import pytest

from scikg_spark.core.neural import MimoTagger
from scikg_spark.core.priors import (
    align_priors_to_statements,
    read_prior_tags,
    write_prior_tags,
)


class TestPriors:
    def test_roundtrip(self, tmp_path):
        path = str(tmp_path / "prior.bin")
        distribs = [[i / 100.0 + j for j in range(11)] for i in range(7)]
        write_prior_tags(path, distribs)
        back = read_prior_tags(path)
        assert len(back) == 7
        for a, b in zip(back, distribs):
            assert all(abs(x - y) < 1e-6 for x, y in zip(a, b))

    def test_bad_length_rejected(self, tmp_path):
        path = str(tmp_path / "bad.bin")
        with open(path, "wb") as f:
            f.write(b"\x00" * 16)  # 4 floats, not a multiple of 11
        with pytest.raises(ValueError):
            read_prior_tags(path)

    def test_alignment(self, tmp_path):
        distribs = [[float(i)] * 11 for i in range(5)]
        stmts = [["a", "b"], ["c", "d", "e"]]
        aligned = align_priors_to_statements(distribs, stmts)
        assert [len(x) for x in aligned] == [2, 3]
        assert aligned[1][0][0] == 2.0
        with pytest.raises(ValueError):
            align_priors_to_statements(distribs, [["a"]])  # unconsumed tail


class TestConfidenceThreshold:
    def test_threshold_one_collapses_to_o(self):
        m = MimoTagger(seed=2)
        stmts = ([["a", "b", "c"]], [["NN"] * 3], [["O"] * 3])
        (ft, ct), = m.predict_tags(*stmts, threshold_fact=1.0, threshold_cond=1.0)
        assert ft == ["O"] * 3 and ct == ["O"] * 3

    def test_no_threshold_unchanged(self):
        m = MimoTagger(seed=2)
        stmts = ([["a", "b", "c"]], [["NN"] * 3], [["O"] * 3])
        base = m.predict_tags(*stmts)
        thr = m.predict_tags(*stmts, threshold_fact=1e-9, threshold_cond=1e-9)
        assert base == thr


class TestWord2Vec:
    def test_bin_roundtrip(self, tmp_path):
        import numpy as np

        from scikg_spark.core.neural import hash_word_vectors, word_vectors
        from scikg_spark.core.word2vec import read_word2vec_bin, write_word2vec_bin

        rng = np.random.default_rng(5)
        words = ["cats", "dogs", "t-cells"]
        mat = rng.standard_normal((3, 50)).astype(np.float32)
        path = str(tmp_path / "vec.bin")
        write_word2vec_bin(path, words, mat)
        matrix, word2id = read_word2vec_bin(path)
        assert matrix.shape == (5, 50)  # + <pad>, <unk>
        assert word2id["cats"] == 2
        assert np.allclose(matrix[word2id["dogs"]], mat[1])
        # the lookup lowercases; an OOV word gets its hash vector
        got = word_vectors(["CATS", "zebra"], table=(matrix, word2id))
        assert np.allclose(got[0], mat[0])
        assert np.array_equal(got[1], hash_word_vectors(["zebra"])[0])

    def test_max_words(self, tmp_path):
        import numpy as np

        from scikg_spark.core.word2vec import read_word2vec_bin, write_word2vec_bin

        path = str(tmp_path / "v.bin")
        write_word2vec_bin(path, ["a", "b", "c"],
                           np.ones((3, 4), dtype=np.float32))
        matrix, word2id = read_word2vec_bin(path, max_words=2)
        assert len(word2id) == 4 and "c" not in word2id


class TestSkipgramTrainer:
    """train_skipgram (round 4): the corpus-trained replacement for the
    hash-vector stand-in (reference consumes a frozen pretrained matrix)."""

    def _two_topic_corpus(self):
        import numpy as np

        rng = np.random.default_rng(0)
        a = ["apple", "banana", "cherry", "grape"]
        b = ["bolt", "nut", "screw", "washer"]
        sents = []
        for _ in range(300):
            sents.append(list(rng.permutation(a)))
            sents.append(list(rng.permutation(b)))
        return sents

    def test_deterministic_and_learns_topic_structure(self):
        import numpy as np

        from scikg_spark.core.word2vec import train_skipgram

        sents = self._two_topic_corpus()
        vocab, mat, losses = train_skipgram(sents, dim=16, epochs=40, seed=7)
        assert losses[-1] < losses[0]
        # same seed -> byte-identical matrix (plan/test reproducibility)
        vocab2, mat2, _ = train_skipgram(sents, dim=16, epochs=40, seed=7)
        assert vocab2 == vocab and np.array_equal(mat, mat2)

        w2i = {w: i for i, w in enumerate(vocab)}

        def cos(x, y):
            vx, vy = mat[w2i[x]], mat[w2i[y]]
            return float(vx @ vy / (np.linalg.norm(vx) * np.linalg.norm(vy)
                                    + 1e-9))

        within = (cos("apple", "banana") + cos("bolt", "nut")) / 2
        across = (cos("apple", "bolt") + cos("banana", "nut")) / 2
        assert within > across + 0.2  # co-occurring words embed closer

    def test_roundtrips_through_s5_binary(self, tmp_path):
        import numpy as np

        from scikg_spark.core.neural import word_vectors
        from scikg_spark.core.word2vec import (
            read_word2vec_bin, train_skipgram, write_word2vec_bin)

        vocab, mat, _ = train_skipgram(self._two_topic_corpus()[:50],
                                       dim=8, epochs=2, seed=3)
        path = str(tmp_path / "wv.bin")
        write_word2vec_bin(path, vocab, mat)
        matrix, w2i = read_word2vec_bin(path)
        got = word_vectors(["apple", "zzz-oov"], dim=8, table=(matrix, w2i))
        assert np.allclose(got[0], mat[vocab.index("apple")], atol=1e-6)
        # OOV falls back to the deterministic hash vector, not <unk> zeros
        assert np.abs(got[1]).sum() > 0

    def test_empty_corpus(self):
        from scikg_spark.core.word2vec import train_skipgram

        vocab, mat, losses = train_skipgram([], dim=8, epochs=2)
        assert vocab == [] and len(mat) == 0 and losses == []

    def test_tiny_vocab_negative_collisions_masked(self):
        """ADVICE r5: on a 2-word vocabulary every negative draw collides
        with the true context or the center ~always — resample+mask must
        keep training stable (finite, loss still falls) instead of letting
        the collided negatives push every true pair apart."""
        import numpy as np

        from scikg_spark.core.word2vec import train_skipgram

        sents = [["hot", "cold"]] * 200
        vocab, mat, losses = train_skipgram(
            sents, dim=8, window=1, negatives=5, epochs=30, seed=11)
        assert set(vocab) == {"hot", "cold"}
        assert np.isfinite(mat).all()
        # with all negatives masked the objective is pure positive-pair
        # attraction; it must improve, not thrash
        assert losses[-1] < losses[0]

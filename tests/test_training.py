"""M6-lite head training: weighted NLL decreases, accuracy on the training
signal improves, and the step honors the reference hyperparameter shapes."""

import os

import numpy as np
import pytest

from scikg_spark.core.neural import DEFAULT_CHECKPOINTS, HeadTrainer, MimoTagger
from scikg_spark.core.tags import FACT_TAG2ID, COND_TAG2ID

CKPT_DIR = os.path.dirname(DEFAULT_CHECKPOINTS["neural"])


def _training_batch(n_stmts=30, length=8, seed=3):
    rng = np.random.default_rng(seed)
    words, pos, cap, yf, yc = [], [], [], [], []
    for _ in range(n_stmts):
        w = [f"tok{rng.integers(50)}" for _ in range(length)]
        p = [["NN", "VBZ", "JJ"][rng.integers(3)] for _ in range(length)]
        c = ["O"] * length
        # simple learnable signal: first token 1C, second 2P, third 3C
        f = ["B-f1C", "B-f2P", "B-f3C"] + ["O"] * (length - 3)
        g = ["B-c1C", "B-c2P", "B-c3C"] + ["O"] * (length - 3)
        words.append(w)
        pos.append(p)
        cap.append(c)
        yf.append([FACT_TAG2ID[t] for t in f])
        yc.append([COND_TAG2ID[t] for t in g])
    return words, pos, cap, yf, yc


def test_class_weights():
    w = HeadTrainer.class_weights({0: 1000, 1: 10})
    assert w[0] == 1.0 and w[1] == 100.0 and w[2] == 0.0


def test_loss_decreases_and_predictions_improve():
    model = MimoTagger(seed=11)
    # reference defaults are lr=0.01 over 1000 epochs; the test compresses
    # the schedule with a higher lr
    trainer = HeadTrainer(model, lr=0.2)
    words, pos, cap, yf, yc = _training_batch()

    def accuracy():
        preds = model.predict_tags(words, pos, cap)
        hits = total = 0
        for (ft, _), gold in zip(preds, yf):
            for t, g in zip(ft, gold):
                hits += int(FACT_TAG2ID[t] == g)
                total += 1
        return hits / total

    acc0 = accuracy()
    first_loss = None
    last_loss = None
    for _ in range(200):
        lf, _ = trainer.step(words, pos, cap, yf, yc)
        if first_loss is None:
            first_loss = lf
        last_loss = lf
    assert last_loss < first_loss * 0.7
    assert accuracy() > acc0


def test_training_is_deterministic():
    def run():
        model = MimoTagger(seed=4)
        trainer = HeadTrainer(model)
        words, pos, cap, yf, yc = _training_batch(seed=9)
        losses = [trainer.step(words, pos, cap, yf, yc) for _ in range(5)]
        return losses

    assert run() == run()


def test_save_load_roundtrip(tmp_path):
    from scikg_spark.core.neural import load_tagger, save_tagger

    model = MimoTagger(seed=1)
    trainer = HeadTrainer(model, lr=0.3)
    words, pos, cap, yf, yc = _training_batch(n_stmts=5)
    trainer.step(words, pos, cap, yf, yc)
    path = str(tmp_path / "w.npz")
    save_tagger(model, path)
    other = load_tagger(path)
    assert model.predict_tags(words, pos, cap) == other.predict_tags(words, pos, cap)


def test_trained_weights_flow_through_spark(spark, tmp_path):
    from scikg_spark.core.neural import save_tagger
    from scikg_spark.pipeline.stage1 import (
        build_pages_from_documents, extract_statements)
    from scikg_spark.pipeline.stage2 import tag_statements

    model = MimoTagger(seed=7)
    trainer = HeadTrainer(model, lr=0.3)
    words, pos, cap, yf, yc = _training_batch(n_stmts=10)
    for _ in range(5):
        trainer.step(words, pos, cap, yf, yc)
    path = str(tmp_path / "heads.npz")
    save_tagger(model, path)
    fixture = str(tmp_path / "fixture.npz")
    save_tagger(MimoTagger(), fixture)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
    stmts = extract_statements(build_pages_from_documents(docs)).cache()
    default = tag_statements(stmts, mode="neural", weights_path=fixture).collect()
    trained = tag_statements(stmts, mode="neural", weights_path=path).collect()
    assert len(default) == len(trained)
    # trained heads change predictions relative to the fixture weights
    d = {(r.doc_id, r.stmt_id): tuple(r.fact_tags) for r in default}
    t = {(r.doc_id, r.stmt_id): tuple(r.fact_tags) for r in trained}
    assert d != t


class TestProbeTagger:
    def test_probe_learns_rule_labels(self):
        import numpy as np

        from scikg_spark.core.neural import ProbeTagger
        from scikg_spark.core.tagger import rule_tag
        from scikg_spark.core.tags import COND_TAG2ID, FACT_TAG2ID
        from scikg_spark.core.synth import statements_from_tokens

        def corpus(n_docs, prefix):
            w_, p_, c_, yf, yc = [], [], [], [], []
            for d in range(n_docs):
                toks = [f"w{(d * 31 + i * 7) % 150}" for i in range(50)]
                for (w, p, c) in statements_from_tokens(f"{prefix}{d}", toks):
                    ft, ct = rule_tag(w, p, c)
                    w_.append(w)
                    p_.append(p)
                    c_.append(c)
                    yf.append([FACT_TAG2ID[t] for t in ft])
                    yc.append([COND_TAG2ID[t] for t in ct])
            return w_, p_, c_, yf, yc

        trw, trp, trc, tryf, tryc = corpus(40, "tr")
        tew, tep, tec, teyf, teyc = corpus(10, "te")
        probe = ProbeTagger(seed=824)
        idx = np.arange(len(trw))
        rng = np.random.default_rng(0)
        for _ in range(8):
            rng.shuffle(idx)
            for s in range(0, len(idx), 64):
                b = idx[s:s + 64]
                probe.train_step(
                    [trw[i] for i in b], [trp[i] for i in b], [trc[i] for i in b],
                    [tryf[i] for i in b], [tryc[i] for i in b])
        preds = probe.predict_tags(tew, tep, tec)
        hit = tot = 0
        for (ft, _), gold in zip(preds, teyf):
            for t, g in zip(ft, gold):
                hit += int(FACT_TAG2ID[t] == g)
                tot += 1
        assert hit / tot > 0.9  # feature-augmented probe must learn the task

    def test_probe_save_load_roundtrip(self, tmp_path):
        from scikg_spark.core.neural import ProbeTagger, load_tagger, save_tagger

        probe = ProbeTagger(seed=1)
        stmts = ([["a", "b", "c"]], [["NN", "VBZ", "NN"]], [["B-C", "B-P", "B-C"]])
        probe.train_step(*stmts, [[1, 2, 3]], [[1, 2, 3]])
        path = str(tmp_path / "probe.npz")
        save_tagger(probe, path)
        other = load_tagger(path)
        assert probe.predict_tags(*stmts) == other.predict_tags(*stmts)

    def test_probe_mode_requires_weights(self, spark, tmp_path):
        """No model mode (probe, neural, ensemble) tags with an untrained
        model: without a weights_path every entry point raises, and neither
        runner entry point commits a table."""
        from scikg_spark.pipeline.fused import extract_tuples
        from scikg_spark.pipeline.runner import (
            run_pipeline, run_pipeline_incremental)
        from scikg_spark.pipeline.stage1 import (
            build_pages_from_documents, extract_statements)
        from scikg_spark.pipeline.stage2 import tag_statements
        from scikg_spark.pipeline.stage4 import SnapshotCatalog

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet").limit(5)
        pages = build_pages_from_documents(docs)
        stmts = extract_statements(pages)
        for mode in ("probe", "neural", "ensemble"):
            with pytest.raises(ValueError, match=f"{mode} mode"):
                tag_statements(stmts, mode=mode)
            with pytest.raises(ValueError, match=f"{mode} mode"):
                extract_tuples(stmts, tagger=mode)
            for entry in (run_pipeline, run_pipeline_incremental):
                catalog = SnapshotCatalog(
                    spark, str(tmp_path / mode / entry.__name__))
                with pytest.raises(ValueError, match=f"{mode} mode"):
                    entry(spark, pages, catalog, tagger=mode)
                assert catalog.manifest("statements") is None


@pytest.mark.parametrize("mode,kind", [
    ("neural", "probe"), ("neural", "ensemble"), ("probe", "single"),
    ("neural", "lm"), ("ensemble", "lm"), ("probe", "lm")])
def test_runner_refuses_a_checkpoint_of_another_kind(spark, tmp_path, mode, kind):
    """Both runner entry points read the checkpoint's kind from its npz keys
    on the driver and raise before the first commit when the mode loads
    another kind; an LM checkpoint is no tagger checkpoint at all."""
    from scikg_spark.core.neural import ProbeTagger, save_tagger
    from scikg_spark.pipeline.runner import (
        run_pipeline, run_pipeline_incremental)
    from scikg_spark.pipeline.stage1 import build_pages_from_documents
    from scikg_spark.pipeline.stage4 import SnapshotCatalog

    from conftest import TESTDATA

    paths = {"single": DEFAULT_CHECKPOINTS["neural"],
             "ensemble": DEFAULT_CHECKPOINTS["ensemble"],
             "lm": os.path.join(CKPT_DIR, "lm_200d.npz"),
             "probe": str(tmp_path / "probe.npz")}
    save_tagger(ProbeTagger(seed=1), paths["probe"])
    if not os.path.exists(paths[kind]):
        pytest.skip("committed checkpoint not present")
    docs = spark.read.parquet(
        os.path.join(TESTDATA, "sf0.001", "documents.parquet")).limit(20)
    pages = build_pages_from_documents(docs)
    for entry in (run_pipeline, run_pipeline_incremental):
        catalog = SnapshotCatalog(spark, str(tmp_path / entry.__name__))
        with pytest.raises(ValueError, match="checkpoint"):
            entry(spark, pages, catalog, tagger=mode,
                  weights_path=paths[kind])
        assert catalog.manifest("statements") is None


class TestCheckpointConfigRoundtrip:
    def test_nondefault_flags_roundtrip_via_tagger_from_weights(self, tmp_path):
        from scikg_spark.core.neural import MimoTagger, load_tagger, save_tagger

        src = MimoTagger(seed=3, use_lm=True, use_pos=False, enhance=False)
        path = str(tmp_path / "w.npz")
        save_tagger(src, path)
        loaded = load_tagger(path)
        assert loaded.use_lm and not loaded.use_pos and not loaded.enhance
        stmts = ([["a", "b"]], [["NN", "VBZ"]], [["B-C", "B-P"]])
        assert src.predict_tags(*stmts) == loaded.predict_tags(*stmts)

    def test_probe_load_rebuilds_base_from_flags(self, tmp_path):
        from scikg_spark.core.neural import (
            MimoTagger, ProbeTagger, load_tagger, save_tagger)

        probe = ProbeTagger(base=MimoTagger(seed=2, use_lm=True, use_pos=False))
        stmts = ([["x", "y", "z"]], [["NN", "IN", "NN"]], [["B-C", "B-P", "B-C"]])
        probe.train_step(*stmts, [[1, 2, 3]], [[1, 2, 3]])
        path = str(tmp_path / "p.npz")
        save_tagger(probe, path)
        loaded = load_tagger(path)
        assert loaded.base.use_lm and not loaded.base.use_pos
        assert probe.predict_tags(*stmts) == loaded.predict_tags(*stmts)

    def test_probe_keeps_its_base_word_table(self, tmp_path):
        """A probe over a base holding the trained word table stores that
        table, so the loaded probe featurizes (and tags) as it was trained."""
        from scikg_spark.core.neural import (
            MimoTagger, ProbeTagger, load_tagger, save_tagger)
        from scikg_spark.core.word2vec import read_word2vec_bin

        wv_bin = os.path.join(CKPT_DIR, "word_vectors_50.bin")
        if not os.path.exists(wv_bin):
            pytest.skip("word-vector checkpoint not present")
        base = MimoTagger(seed=3)
        base.word_table = read_word2vec_bin(wv_bin)
        probe = ProbeTagger(base=base)
        word2id = base.word_table[1]
        words = [w for w in word2id if word2id[w] > 1][:4]
        stmts = ([words], [["NN", "VBZ", "IN", "NN"]], [["O"] * 4])
        probe.train_step(*stmts, [[1, 2, 0, 3]], [[0, 3, 1, 2]])
        path = str(tmp_path / "p.npz")
        save_tagger(probe, path)
        loaded = load_tagger(path)
        assert loaded.base.word_table is not None
        np.testing.assert_array_equal(loaded.base.word_table[0],
                                      base.word_table[0])
        assert loaded.base.word_table[1] == word2id
        np.testing.assert_array_equal(loaded._features(*stmts)[0],
                                      probe._features(*stmts)[0])
        assert probe.predict_tags(*stmts) == loaded.predict_tags(*stmts)


# ---------------------------------------------------------------------------
# Full BPTT (M6 complete): analytic gradients for EVERY parameter must match
# central finite differences on a tiny float64 model, the cached forward must
# equal MimoTagger._forward, and the reference-recipe step must learn.
# ---------------------------------------------------------------------------

from scikg_spark.core.train_bptt import BPTTTrainer, EnsembleTrainer  # noqa: E402


def _tiny_model(use_lm=False, enhance=True, seed=0, D=6, H=5, NT=4,
                PD=3, CD=2, dtype=np.float64):
    """Shrink a MimoTagger to gradcheck size (dims derive from the arrays,
    so the trainer works on any consistent set)."""
    from scikg_spark.core.neural import _LSTMCell, LM_DIM
    from scikg_spark.core.tags import CAP_TAGS, POS_TAGS

    m = MimoTagger(seed=seed, use_lm=use_lm, enhance=enhance)
    rng = np.random.default_rng(seed + 100)

    def r(*s):
        return (rng.standard_normal(s) * 0.3).astype(dtype)

    m.pos_emb = r(len(POS_TAGS) + 1, PD)
    m.w_pos, m.g_pos = r(PD, D), r(PD, D)
    m.cap_emb = r(len(CAP_TAGS) + 1, CD)
    m.w_cap, m.g_cap = r(CD, D), r(CD, D)
    for name, in_dim in (("enc_f", D), ("enc_b", D),
                         ("dec", 2 * H + 2 * NT)):
        cell = _LSTMCell(np.random.default_rng(1), 1, H)
        cell.w, cell.b, cell.hidden = r(in_dim + H, 4 * H), r(4 * H), H
        setattr(m, name, cell)
    m.head_fact = r(H, NT)
    m.head_cond = r(H + (NT if enhance else 0), NT)
    if use_lm:
        m.w_lm, m.g_lm = r(LM_DIM, D), r(LM_DIM, D)
        # frozen featurizer, but its input dim must match the tiny word dim
        m.lm_cell.w = (np.random.default_rng(8).standard_normal(
            (D + LM_DIM, 4 * LM_DIM)) * 0.05).astype(np.float32)
    return m


_GC_BATCH = (
    [["alpha", "beta", "gamma", "delta"], ["one", "two"]],
    [["NN", "VBZ", "IN", "NN"], ["JJ", "NN"]],
    [["1C", "O", "O", "2P"], ["O", "3C"]],
    [[1, 2, 0, 3], [0, 1]],
    [[0, 3, 1, 2], [2, 0]],
)
_GC_WF = np.array([1.0, 2.0, 0.5, 1.5])
_GC_WC = np.array([0.7, 1.2, 2.0, 1.0])


def _gradcheck(model, n_coords=10, eps=1e-6, tol=1e-5, targets=None):
    tr = BPTTTrainer(model)
    words, pos, cap, yf, yc = _GC_BATCH
    if targets is not None:
        yf, yc = targets
    _, grads = tr.loss_and_grads(words, pos, cap, yf, yc, _GC_WF, _GC_WC)
    rng = np.random.default_rng(42)
    worst = 0.0
    for key, p in tr._params().items():
        coords = rng.choice(p.size, size=min(n_coords, p.size), replace=False)
        for ci in coords:
            old = p.flat[ci]
            p.flat[ci] = old + eps
            lp, _ = tr.loss_and_grads(words, pos, cap, yf, yc, _GC_WF, _GC_WC)
            p.flat[ci] = old - eps
            lm_, _ = tr.loss_and_grads(words, pos, cap, yf, yc, _GC_WF, _GC_WC)
            p.flat[ci] = old
            fd = (lp - lm_) / (2 * eps)
            an = grads[key].flat[ci]
            err = abs(fd - an) / max(1.0, abs(fd), abs(an))
            assert err < tol, f"{key}[{ci}]: analytic={an} fd={fd} err={err}"
            worst = max(worst, err)
    return worst


class TestBPTT:
    def test_gradcheck_all_params(self):
        _gradcheck(_tiny_model())

    def test_gradcheck_no_enhance(self):
        _gradcheck(_tiny_model(enhance=False, seed=3))

    def test_gradcheck_lm_gates(self):
        # LM featurizer frozen; w_lm/g_lm gates still get exact grads
        _gradcheck(_tiny_model(use_lm=True, seed=5), n_coords=5)

    def test_soft_targets_onehot_equals_hard(self):
        # one-hot prior distributions must reduce exactly to the hard-id path
        m = _tiny_model(seed=2)
        tr = BPTTTrainer(m)
        words, pos, cap, yf, yc = _GC_BATCH
        soft_f = [np.eye(4)[np.asarray(s)] for s in yf]
        soft_c = [np.eye(4)[np.asarray(s)] for s in yc]
        l_hard, g_hard = tr.loss_and_grads(
            words, pos, cap, yf, yc, _GC_WF, _GC_WC)
        l_soft, g_soft = tr.loss_and_grads(
            words, pos, cap, soft_f, soft_c, _GC_WF, _GC_WC)
        assert abs(l_hard - l_soft) < 1e-9
        for k in g_hard:
            np.testing.assert_allclose(g_hard[k], g_soft[k],
                                       rtol=1e-8, atol=1e-10)

    def test_gradcheck_soft_targets(self):
        # exact grads for genuinely soft (non-one-hot) prior distributions
        rng = np.random.default_rng(11)
        yf, yc = [], []
        for w in _GC_BATCH[0]:
            q = rng.random((len(w), 4))
            yf.append(q / q.sum(axis=1, keepdims=True))
            q = rng.random((len(w), 4))
            yc.append(q / q.sum(axis=1, keepdims=True))
        _gradcheck(_tiny_model(seed=9), n_coords=5, targets=(yf, yc))

    def test_prior_binary_roundtrip_feeds_soft_training(self, tmp_path):
        # S7 prior streams -> align -> soft BPTT step (the load_prior_tag
        # consumption path, utils.py:554-615): loss decreases toward priors
        from scikg_spark.core.priors import (
            align_priors_to_statements, read_prior_tags, write_prior_tags)

        words, pos, cap, _, _ = _GC_BATCH
        rng = np.random.default_rng(4)
        n_tok = sum(len(w) for w in words)
        distribs = rng.random((n_tok, 4))
        distribs /= distribs.sum(axis=1, keepdims=True)
        path = str(tmp_path / "prior_fact.bin")
        write_prior_tags(path, distribs.tolist())
        aligned = align_priors_to_statements(
            read_prior_tags(path, class_num=4), words)
        soft = [np.asarray(d, dtype=np.float64) for d in aligned]
        m = _tiny_model(seed=6)
        tr = BPTTTrainer(m, lr=0.05)
        losses = [tr.step(words, pos, cap, soft, soft, _GC_WF, _GC_WC)
                  for _ in range(12)]
        assert losses[-1] < losses[0]

    def test_cached_forward_matches_predict_forward(self):
        model = MimoTagger(seed=824)
        words, pos, cap, yf, yc = _training_batch(n_stmts=4, length=6)
        ref_f, ref_c, ref_lens = model._forward(words, pos, cap)
        tr = BPTTTrainer(model)
        tr.loss_and_grads(words, pos, cap, yf, yc,
                          np.ones(11, np.float32), np.ones(11, np.float32))
        got_f, got_c, got_lens = tr._last
        assert list(ref_lens) == list(got_lens)
        np.testing.assert_allclose(ref_f, got_f, rtol=1e-5, atol=1e-6)
        np.testing.assert_allclose(ref_c, got_c, rtol=1e-5, atol=1e-6)

    def test_bptt_step_learns_and_beats_frozen_heads(self):
        # the full-gradient step must fit the toy signal faster than any
        # fixed-encoder probe could change the encoder (loss drops hard)
        model = MimoTagger(seed=11)
        tr = BPTTTrainer(model, lr=0.05)
        words, pos, cap, yf, yc = _training_batch(n_stmts=20)
        losses = [tr.step(words, pos, cap, yf, yc) for _ in range(40)]
        assert losses[-1] < losses[0] * 0.5, (losses[0], losses[-1])

    def test_bptt_weights_flow_through_neural_mode(self, tmp_path):
        from scikg_spark.core.neural import load_tagger, save_tagger

        model = MimoTagger(seed=13)
        tr = BPTTTrainer(model, lr=0.05)
        words, pos, cap, yf, yc = _training_batch(n_stmts=10)
        for _ in range(5):
            tr.step(words, pos, cap, yf, yc)
        path = str(tmp_path / "bptt.npz")
        save_tagger(model, path)
        loaded = load_tagger(path)
        assert model.predict_tags(words, pos, cap) == \
            loaded.predict_tags(words, pos, cap)

    def test_bptt_step_is_deterministic(self):
        def run():
            model = MimoTagger(seed=4)
            tr = BPTTTrainer(model)
            words, pos, cap, yf, yc = _training_batch(seed=9, n_stmts=8)
            return [tr.step(words, pos, cap, yf, yc) for _ in range(3)]

        assert run() == run()


class TestEnsembleTraining:
    def test_combiner_loss_decreases(self):
        from scikg_spark.core.neural import MimoEnsemble

        models = [MimoTagger(seed=21, use_lm=False, use_pos=True, use_cap=False),
                  MimoTagger(seed=22, use_lm=False, use_pos=False, use_cap=True),
                  MimoTagger(seed=23, use_lm=False, use_pos=True, use_cap=True)]
        ens = MimoEnsemble(models=models, seed=20)
        tr = EnsembleTrainer(ens, lr=0.1)
        words, pos, cap, yf, yc = _training_batch(n_stmts=10)
        losses = [tr.step(words, pos, cap, yf, yc) for _ in range(25)]
        assert losses[-1] < losses[0] * 0.9, (losses[0], losses[-1])

    def test_ensemble_save_load_roundtrip(self, tmp_path):
        from scikg_spark.core.neural import MimoEnsemble, load_tagger, save_tagger

        ens = MimoEnsemble(seed=30, models=[
            MimoTagger(seed=31, use_lm=False, use_pos=True, use_cap=False),
            MimoTagger(seed=32, use_lm=False, use_pos=False, use_cap=True)])
        words, pos, cap, yf, yc = _training_batch(n_stmts=4)
        EnsembleTrainer(ens, lr=0.1).step(words, pos, cap, yf, yc)
        path = str(tmp_path / "ens.npz")
        save_tagger(ens, path)
        other = load_tagger(path)
        assert len(other.models) == 2
        assert other.models[0].use_pos and not other.models[0].use_cap
        assert ens.predict_tags(words, pos, cap) == \
            other.predict_tags(words, pos, cap)

    def test_ensemble_weights_flow_through_spark(self, spark, tmp_path):
        from scikg_spark.core.neural import MimoEnsemble, save_tagger
        from scikg_spark.pipeline.stage1 import (
            build_pages_from_documents, extract_statements)
        from scikg_spark.pipeline.stage2 import tag_statements

        ens = MimoEnsemble(seed=40, models=[
            MimoTagger(seed=41, use_lm=False, use_pos=True, use_cap=False),
            MimoTagger(seed=42, use_lm=False, use_pos=False, use_cap=True)])
        path = str(tmp_path / "ens.npz")
        save_tagger(ens, path)
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet").limit(10)
        stmts = extract_statements(build_pages_from_documents(docs))
        rows = tag_statements(stmts, mode="ensemble", weights_path=path).collect()
        assert len(rows) > 0


class TestLanguageModel:
    """core.lm: the trained-LM completion of S6/M1 (reference model.py
    RNNModel semantics — LSTM featurizer, training-only decoder head)."""

    SENTS = [["the", "cat", "sat", "on", "the", "mat"],
             ["a", "dog", "ran"],
             ["the", "dog", "sat", "on", "a", "mat"],
             ["mat"],
             ["on", "a", "mat", "the", "cat", "ran", "far", "away"]]

    def _tiny_lm(self, seed=3):
        from scikg_spark.core.lm import LMTrainer, LanguageModel, build_vocab

        lm = LanguageModel(build_vocab(self.SENTS), seed=seed,
                           in_dim=8, hidden=6)
        for attr in ("dec_w", "dec_b"):
            setattr(lm, attr, getattr(lm, attr).astype(np.float64))
        lm.cell.w = lm.cell.w.astype(np.float64)
        lm.cell.b = lm.cell.b.astype(np.float64)
        return lm, LMTrainer(lm)

    def test_gradcheck(self):
        lm, tr = self._tiny_lm()
        batch = sorted(self.SENTS, key=len, reverse=True)
        loss, n_tok, grads = tr.loss_and_grads(batch)
        assert n_tok == sum(len(s) - 1 for s in self.SENTS)
        rng = np.random.default_rng(42)
        eps = 1e-6
        for key, p in tr._params().items():
            for ci in rng.choice(p.size, size=min(10, p.size), replace=False):
                old = p.flat[ci]
                p.flat[ci] = old + eps
                lp, _, _ = tr.loss_and_grads(batch)
                p.flat[ci] = old - eps
                lm_, _, _ = tr.loss_and_grads(batch)
                p.flat[ci] = old
                fd = (lp - lm_) / (2 * eps)
                an = grads[key].flat[ci]
                err = abs(fd - an) / max(1.0, abs(fd), abs(an))
                assert err < 1e-5, f"{key}[{ci}]: analytic={an} fd={fd}"

    def test_training_reduces_perplexity(self):
        from scikg_spark.core.lm import LMTrainer, LanguageModel, build_vocab

        lm = LanguageModel(build_vocab(self.SENTS), seed=7, in_dim=8, hidden=6)
        tr = LMTrainer(lm, lr=0.5)
        before = tr.perplexity(self.SENTS)
        for _ in range(60):
            tr.step(self.SENTS)
        after = tr.perplexity(self.SENTS)
        assert after < before * 0.7, (before, after)
        # sanity ceiling: can't beat the unigram entropy floor of 0
        assert after >= 1.0

    def test_save_load_roundtrip_and_install(self, tmp_path):
        from scikg_spark.core.lm import (
            LMTrainer, LanguageModel, build_vocab, load_lm_into)
        from scikg_spark.core.neural import WORD_DIM, LM_DIM, MimoTagger

        lm = LanguageModel(build_vocab(self.SENTS), seed=7,
                           in_dim=WORD_DIM, hidden=LM_DIM)
        tr = LMTrainer(lm, lr=0.3)
        for _ in range(3):
            tr.step(self.SENTS)
        path = str(tmp_path / "lm.npz")
        lm.save(path)
        back = type(lm).load(path)
        np.testing.assert_array_equal(back.cell.w, lm.cell.w)
        assert back.vocab == lm.vocab

        model = MimoTagger(seed=1, use_lm=True, use_pos=False, use_cap=False)
        wv = np.asarray(
            __import__("scikg_spark.core.neural", fromlist=["x"])
            .hash_word_vectors(self.SENTS[0]))
        feats_fixture = model._lm_features(wv).copy()
        load_lm_into(model, path)
        feats_trained = model._lm_features(wv)
        assert not np.allclose(feats_fixture, feats_trained)
        np.testing.assert_array_equal(model.lm_cell.w, lm.cell.w)
        # config guard: a use_lm=False model must refuse the install
        import pytest as _pytest
        with _pytest.raises(ValueError, match="use_lm"):
            load_lm_into(MimoTagger(use_lm=False), path)

    def test_tableless_checkpoint_refuses_trained_table(self, tmp_path):
        """ADVICE r5: the symmetric table-consistency guard — a checkpoint
        with NO embedded word table (pre-round-4 hash-trained format) must
        not silently install into a model holding trained word vectors."""
        import pytest as _pytest

        from scikg_spark.core.lm import (
            LanguageModel, build_vocab, load_lm_into)
        from scikg_spark.core.neural import LM_DIM, WORD_DIM, MimoTagger

        lm = LanguageModel(build_vocab(self.SENTS), seed=7,
                           in_dim=WORD_DIM, hidden=LM_DIM)
        path = str(tmp_path / "lm_notable.npz")
        lm.save(path)  # word_table is None -> no table in the npz

        model = MimoTagger(seed=1, use_lm=True, use_pos=False, use_cap=False)
        model.word_table = (np.zeros((3, WORD_DIM), dtype=np.float32),
                            {"a": 0, "b": 1, "c": 2})
        with _pytest.raises(ValueError, match="no word table"):
            load_lm_into(model, path)
        # and the hash-path install still works once the table is cleared
        model.word_table = None
        load_lm_into(model, path)


_CLI_SCRIPT = """
import json, sys
sys.path.insert(0, %(repo)r)
import pandas as pd
from scikg_spark.jobs import self_train, train_bptt, train_heads
from scikg_spark.pipeline.stage2 import _load_tagger

docs = %(docs)r
pd.read_parquet(%(src)r).head(10).to_parquet(docs + "/documents.parquet")
common = ["--documents", docs, "--cores", "2"]
train_heads.main(common + ["--out", docs + "/heads.npz", "--epochs", "1"])
train_heads.main(common + ["--out", docs + "/probe.npz", "--epochs", "1",
                           "--probe"])
self_train.main(common + ["--out", docs + "/self.npz", "--parts", "2",
                          "--epochs-per-part", "1"])
train_bptt.main(common + ["--out", docs + "/bptt.npz", "--epochs", "1"])
words, pos, cap = ["cells", "express", "receptors"], ["NNS", "VBP", "NNS"], \\
    ["B-C", "B-P", "B-C"]
tagged = {}
for mode, name in (("neural", "heads"), ("probe", "probe"),
                   ("probe", "self"), ("neural", "bptt")):
    (ft, ct), = _load_tagger(mode, f"{docs}/{name}.npz")([words], [pos], [cap])
    tagged[name] = [len(ft), len(ct)]
print(json.dumps(tagged))
"""


def test_training_clis_write_checkpoints_stage2_loads(tmp_path):
    """train_heads (linear and --probe), self_train and train_bptt run end
    to end over a 10-document corpus in one child process, and stage 2
    loads each checkpoint for its tagger mode and tags a statement.
    self_train's second part pseudo-labels with a probe checkpoint that it
    writes to a temporary directory, which is gone when the job ends."""
    import json
    import os
    import subprocess
    import sys

    from conftest import TESTDATA, session_env

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = _CLI_SCRIPT % {
        "repo": repo, "docs": str(tmp_path),
        "src": os.path.join(TESTDATA, "sf0.001", "documents.parquet")}
    env = dict(session_env(tmp_path), TMPDIR=str(tmp_path))
    proc = subprocess.run([sys.executable, "-c", code], env=env,
                          cwd=str(tmp_path), capture_output=True, text=True,
                          timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert not list(tmp_path.glob("scikg_selftrain_*"))
    lines = proc.stdout.strip().splitlines()
    assert json.loads(lines[-1]) == {
        name: [3, 3] for name in ("heads", "probe", "self", "bptt")}
    reports = [json.loads(line) for line in lines[:-1]]
    assert [r["weights"] for r in reports] == [
        str(tmp_path / f"{n}.npz") for n in ("heads", "probe", "self", "bptt")]


@pytest.mark.parametrize("entry", ["extract_tuples", "tag_statements"])
def test_pass_loads_the_tagger_on_its_first_nonempty_batch(monkeypatch, entry):
    """The tagging pass of either entry point opens its checkpoint on the
    first statement batch with rows: a task over an empty partition loads
    nothing, and a task loads once however many batches it gets."""
    import pandas as pd

    from scikg_spark.core import neural
    from scikg_spark.pipeline import fused, stage2

    class Capture:  # stands in for the statements frame: keeps the pass
        def mapInPandas(self, gen, schema):
            self.gen = gen
            return self

    calls = []
    load = neural.load_tagger
    monkeypatch.setattr(neural, "load_tagger",
                        lambda path: calls.append(path) or load(path))
    path = DEFAULT_CHECKPOINTS["neural"]
    entry_point = getattr(fused if entry == "extract_tuples" else stage2, entry)
    kw = {"tagger" if entry == "extract_tuples" else "mode": "neural"}
    gen = entry_point(Capture(), weights_path=path, **kw).gen
    batch = pd.DataFrame({
        "url": ["u"], "doc_id": ["d"], "stmt_id": [0],
        "words": [["cells", "express", "receptors"]],
        "postags": [["NNS", "VBP", "NNS"]], "caps": [["B-C", "B-P", "B-C"]]})

    assert list(gen(iter([]))) == [] and calls == []
    assert list(gen(iter([batch.iloc[:0]]))) == [] and calls == []
    assert list(gen(iter([batch])))
    assert calls == [path]
    calls.clear()
    assert len(list(gen(iter([batch, batch.iloc[:0], batch])))) == 2
    assert calls == [path]


_PSEUDO_LABEL_SCRIPT = """
import sys
sys.path.insert(0, %(repo)r)
import pandas as pd
from scikg_spark.jobs import pseudo_label

docs = %(docs)r
pd.read_parquet(%(src)r).head(10).to_parquet(docs + "/documents.parquet")
pseudo_label.main(["--documents", docs, "--out", docs + "/out", "--cores", "2"])
"""


def test_pseudo_label_tags_with_the_trained_checkpoint(tmp_path):
    """pseudo_label's default neural tagger is the committed trained
    checkpoint (neural.DEFAULT_CHECKPOINTS), as in run_pipeline, not an
    untrained seeded model: every kept statement carries the tags that the
    checkpoint gives it. Runs in a child process, as main() stops its
    session."""
    import json
    import os
    import subprocess
    import sys

    import pandas as pd

    from conftest import TESTDATA, session_env
    from scikg_spark.core.neural import load_tagger

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = _PSEUDO_LABEL_SCRIPT % {
        "repo": repo, "docs": str(tmp_path),
        "src": os.path.join(TESTDATA, "sf0.001", "documents.parquet")}
    proc = subprocess.run([sys.executable, "-c", code], env=session_env(tmp_path),
                          cwd=str(tmp_path), capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    out = pd.read_parquet(tmp_path / "out" / "pseudo_labeled")
    assert report["statements_kept"] == len(out) > 0
    cols = [[list(x) for x in out[c]] for c in ("words", "postags", "caps")]
    expected = load_tagger(DEFAULT_CHECKPOINTS["neural"]).predict_tags(*cols)
    got = [(list(f), list(c)) for f, c in zip(out["fact_tags"], out["cond_tags"])]
    assert got == [(list(f), list(c)) for f, c in expected]

"""The committed full-BPTT checkpoints (checkpoints/, trained by
jobs/train_bptt.py with the reference recipe) must keep their quality claims:
triple P/R >= 0.95 vs the rule teacher on FRESH statements, and the trained
ensemble must not fall below the best committed single."""

import os

import pytest

CKPT_DIR = "/root/repo/checkpoints"
SINGLE = os.path.join(CKPT_DIR, "bptt_best_single.npz")
ENSEMBLE = os.path.join(CKPT_DIR, "ensemble_111.npz")

pytestmark = pytest.mark.skipif(
    not (os.path.exists(SINGLE) and os.path.exists(ENSEMBLE)),
    reason="trained checkpoints not present")


@pytest.fixture(scope="module")
def fresh_eval(spark):
    """Statements the training job never saw as a holdout unit: a fresh
    slice of sf0.01 with rule-teacher labels."""
    from scikg_spark.core.tags import COND_TAG2ID, FACT_TAG2ID
    from scikg_spark.pipeline.stage1 import (
        build_pages_from_documents, extract_statements)
    from scikg_spark.pipeline.stage2 import tag_statements

    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet").limit(80)
    stmts = extract_statements(build_pages_from_documents(docs))
    rows = tag_statements(stmts, mode="rule").collect()
    return ([list(r["words"]) for r in rows],
            [list(r["postags"]) for r in rows],
            [list(r["caps"]) for r in rows],
            [[FACT_TAG2ID[t] for t in r["fact_tags"]] for r in rows],
            [[COND_TAG2ID[t] for t in r["cond_tags"]] for r in rows])


def _prf(model, data):
    from scikg_spark.jobs.train_bptt import triple_prf

    return triple_prf(model, *data)


def test_single_checkpoint_meets_quality_gate(fresh_eval):
    from scikg_spark.core.neural import load_tagger

    p, r, f1 = _prf(load_tagger(SINGLE), fresh_eval)
    assert p >= 0.95 and r >= 0.95, (p, r)


def test_ensemble_checkpoint_at_least_as_good_as_single(fresh_eval):
    from scikg_spark.core.neural import load_tagger

    _, _, f1_single = _prf(load_tagger(SINGLE), fresh_eval)
    p, r, f1_ens = _prf(load_tagger(ENSEMBLE), fresh_eval)
    assert p >= 0.95 and r >= 0.95, (p, r)
    assert f1_ens >= f1_single - 1e-9, (f1_ens, f1_single)


def test_trained_ensemble_flows_through_spark(spark):
    from scikg_spark.pipeline.fused import extract_tuples
    from scikg_spark.pipeline.stage1 import (
        build_pages_from_documents, extract_statements)

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(20)
    stmts = extract_statements(build_pages_from_documents(docs))
    neural = extract_tuples(stmts, tagger="ensemble", weights_path=ENSEMBLE)
    rule = extract_tuples(stmts)
    # trained-on-rule-teacher ensemble reproduces the teacher's tuples
    n_match = neural.select("doc_id", "stmt_id", "kind", "subj", "pred", "obj") \
        .intersect(rule.select("doc_id", "stmt_id", "kind", "subj", "pred", "obj")) \
        .count()
    assert n_match / max(rule.count(), 1) >= 0.9


def test_ensemble_contains_trained_lm_bit_model():
    """The committed ensemble must include a use_lm single whose LM cell IS
    the separately-trained language model (frozen under BPTT, so byte-equal
    to the committed lm checkpoint) — the reference's lm config bit
    (utils.py:2687-2690) exercised with genuinely trained weights."""
    import numpy as np

    from scikg_spark.core.lm import LanguageModel
    from scikg_spark.core.neural import load_tagger

    lm_path = os.path.join(CKPT_DIR, "lm_200d.npz")
    if not os.path.exists(lm_path):
        pytest.skip("lm checkpoint not present")
    ens = load_tagger(ENSEMBLE)
    lm_models = [m for m in ens.models if m.use_lm]
    assert len(lm_models) == 1
    lm = LanguageModel.load(lm_path)
    np.testing.assert_array_equal(lm_models[0].lm_cell.w, lm.cell.w)
    np.testing.assert_array_equal(lm_models[0].lm_cell.b, lm.cell.b)
    # the configs cover the reference's three single bits (lm/pos/cap)
    configs = sorted((m.use_lm, m.use_pos, m.use_cap) for m in ens.models)
    assert configs == [(False, False, True), (False, True, False),
                       (True, False, False)]


def test_checkpoints_carry_trained_word_table():
    """Round-4: the trained configs consume CORPUS-TRAINED word vectors
    (skip-gram, jobs/train_w2v.py), not the hash stand-in — the table rides
    the checkpoints, round-trips through the S5 C-binary file, and is
    byte-identical across the single, ensemble and LM checkpoints."""
    import numpy as np

    from scikg_spark.core.lm import LanguageModel
    from scikg_spark.core.neural import (
        load_tagger, word_vectors)
    from scikg_spark.core.word2vec import read_word2vec_bin

    wv_bin = os.path.join(CKPT_DIR, "word_vectors_50.bin")
    if not os.path.exists(wv_bin):
        pytest.skip("word-vector checkpoint not present")
    bin_matrix, bin_w2i = read_word2vec_bin(wv_bin)

    single = load_tagger(SINGLE)
    ens = load_tagger(ENSEMBLE)
    lm = LanguageModel.load(os.path.join(CKPT_DIR, "lm_200d.npz"))
    for model in (single, *ens.models, lm):
        assert model.word_table is not None
        matrix, w2i = model.word_table
        np.testing.assert_array_equal(matrix, bin_matrix)
        assert w2i == bin_w2i
    # in-vocab words resolve to the trained rows, not hash vectors
    word = next(w for w in bin_w2i if bin_w2i[w] > 1)
    out = word_vectors([word], table=single.word_table)
    np.testing.assert_array_equal(out[0], bin_matrix[bin_w2i[word]])

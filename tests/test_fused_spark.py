"""Fused-path equivalence: the single-Python-pass extraction must emit the
exact tuple multiset of the pure-Python core chain over the collected
statements — tagger (``rule_tag`` / ``ProbeTagger.predict_tags``), then
``correct_tags``, then ``post_decode`` + ``serialize_tuple``."""

from scikg_spark.core.correct import correct_tags
from scikg_spark.core.decoder import post_decode
from scikg_spark.core.serialize import serialize_tuple
from scikg_spark.core.tagger import rule_tag
from scikg_spark.pipeline.fused import extract_tuples, pages_to_tuples
from scikg_spark.pipeline.stage1 import build_pages_from_documents, extract_statements

SF_DIR = "/root/testdata/sf0.001"


def _key(r):
    return (r.url, r.stmt_id, r.kind, r.tuple_idx, r.subj, r.pred, r.obj)


def _columns(rows):
    return ([list(r.words) for r in rows], [list(r.postags) for r in rows],
            [list(r.caps) for r in rows])


def _reference(rows, tag_pairs, **flags):
    """The core chain over collected statement rows and their tags, keyed
    like :func:`_key`."""
    out = []
    for r, (ft, ct) in zip(rows, tag_pairs):
        words = list(r.words)
        if flags:
            res = correct_tags(ft, ct, [w.lower() for w in words],
                               list(r.postags), **flags)
            if res is None:
                continue
            ft, ct = res
        for kind, tags in (("f", ft), ("c", ct)):
            for idx, rec in enumerate(post_decode(words, tags)):
                out.append((r.url, r.stmt_id, kind, idx + 1, *serialize_tuple(rec)))
    return sorted(out)


def _rule_pairs(rows):
    return [rule_tag(*cols) for cols in zip(*_columns(rows))]


def test_fused_equals_core_chain(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(120)
    pages = build_pages_from_documents(docs).cache()
    stmts = extract_statements(pages).cache()
    rows = stmts.collect()

    fused_stage2 = extract_tuples(stmts).collect()
    fused_full = pages_to_tuples(pages).collect()

    assert sorted(map(_key, fused_stage2)) == _reference(rows, _rule_pairs(rows))
    assert sorted(map(_key, fused_stage2)) == sorted(map(_key, fused_full))


def test_fused_with_corrections(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(120)
    pages = build_pages_from_documents(docs).cache()
    stmts = extract_statements(pages).cache()
    rows = stmts.collect()

    flags = dict(use_tc=True, use_sh=True, use_del=True)
    fused = extract_tuples(stmts, **flags).collect()
    assert sorted(map(_key, fused)) == _reference(rows, _rule_pairs(rows), **flags)
    assert len(fused) < len(extract_tuples(stmts).collect())


def test_fused_probe_equals_core_chain(spark, tmp_path):
    from scikg_spark.core.neural import ProbeTagger, load_tagger, save_tagger
    from scikg_spark.core.tags import COND_TAG2ID, FACT_TAG2ID

    # tiny trained probe
    probe = ProbeTagger(seed=824)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(60)
    stmts = extract_statements(build_pages_from_documents(docs)).cache()
    rows = stmts.collect()
    w, p, c = _columns(rows)
    yf = [[FACT_TAG2ID[t] for t in rule_tag(a, b, d)[0]] for a, b, d in zip(w, p, c)]
    yc = [[COND_TAG2ID[t] for t in rule_tag(a, b, d)[1]] for a, b, d in zip(w, p, c)]
    for _ in range(4):
        probe.train_step(w, p, c, yf, yc)
    path = str(tmp_path / "probe.npz")
    save_tagger(probe, path)

    fused = extract_tuples(stmts, tagger="probe", weights_path=path).collect()
    assert sorted(map(_key, fused)) == _reference(
        rows, load_tagger(path).predict_tags(w, p, c))
    assert len(fused) > 0

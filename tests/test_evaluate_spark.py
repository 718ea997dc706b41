"""Distributed evaluation tests: the Spark match-score surface must agree
with the pure-Python metric, and the gold pipeline must score exactly 1.0."""

import pytest
from pyspark.sql import functions as F

from scikg_spark.pipeline.evaluate import (
    summarize_match,
    tag_confusion,
    tag_metrics,
    tuple_match_scores,
)
from scikg_spark.pipeline.fused import extract_tuples
from scikg_spark.pipeline.gold import gold_frames_from_blocks
from scikg_spark.pipeline.stage1 import extract_statements


@pytest.fixture(scope="module")
def gold_tuples(spark, eval_blocks):
    pages, gold, _ = gold_frames_from_blocks(spark, eval_blocks)
    stmts = extract_statements(pages)
    return extract_tuples(stmts, tagger="gold", gold=gold).cache()


class TestTupleScores:
    def test_self_match_is_perfect(self, spark, gold_tuples):
        scores = tuple_match_scores(gold_tuples, gold_tuples)
        summary = {r.kind: r for r in summarize_match(scores).collect()}
        assert summary["all"].precision == 1.0
        assert summary["all"].recall == 1.0

    def test_dropped_tuples_hit_recall_not_precision(self, spark, gold_tuples):
        pred = gold_tuples.filter(F.col("tuple_idx") == 1)  # keep 1 per stmt/head
        scores = tuple_match_scores(pred, gold_tuples)
        summary = {r.kind: r for r in summarize_match(scores).collect()}
        assert summary["all"].precision == 1.0
        assert summary["all"].recall < 1.0

    def test_statement_only_on_one_side_is_scored(self, spark, gold_tuples):
        pred = gold_tuples.filter(F.col("doc_id") != "26133121")
        scores = tuple_match_scores(pred, gold_tuples)
        missing = scores.filter(
            (F.col("doc_id") == "26133121") & (F.col("n_pred") == 0))
        assert missing.count() > 0
        # empty pred vs non-empty truth: NIL-pad semantics (utils.py:970-974)
        row = missing.first()
        assert 0.0 <= row.precision <= 1.0


class TestTagMetrics:
    def _tagged(self, spark, tags):
        return spark.createDataFrame(
            [("d", 1, tags)],
            schema="doc_id string, stmt_id int, fact_tags array<string>")

    def test_confusion_and_rollup(self, spark):
        truth = self._tagged(spark, ["B-f1C", "O", "B-f2P"])
        pred = self._tagged(spark, ["B-f1C", "B-f2P", "B-f2P"])
        conf = tag_confusion(pred, truth).cache()
        counts = {(r.true_tag, r.pred_tag): r["count"] for r in conf.collect()}
        assert counts == {("B-f1C", "B-f1C"): 1, ("O", "B-f2P"): 1,
                          ("B-f2P", "B-f2P"): 1}
        metrics = {r.tag: r for r in tag_metrics(conf).collect()}
        assert metrics["B-f1C"].precision == 1.0 and metrics["B-f1C"].recall == 1.0
        assert metrics["B-f2P"].precision == 0.5 and metrics["B-f2P"].recall == 1.0
        assert metrics["__micro__"].recall == 1.0  # 2 tp over 2 non-O truth
        assert abs(metrics["__macro__"].precision - 0.75) < 1e-9


class TestCrossValidate:
    """A6: num_pass re-split mean/std (utils.py:503-552, 1647-1705)."""

    def _tagged(self, spark, perturb=False):
        from scikg_spark.pipeline.stage1 import (
            build_pages_from_documents, extract_statements)
        from scikg_spark.pipeline.stage2 import tag_statements

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet").limit(60)
        stmts = extract_statements(build_pages_from_documents(docs))
        tagged = tag_statements(stmts, mode="rule")
        if perturb:
            from pyspark.sql import functions as F

            # flip the first tag of every even statement to 'O'
            tagged = tagged.withColumn(
                "fact_tags",
                F.when(F.col("stmt_id") % 2 == 0,
                       F.concat(F.array(F.lit("O")),
                                F.slice("fact_tags", 2, 10_000)))
                .otherwise(F.col("fact_tags")))
        return tagged

    def test_perfect_predictions_give_f1_one_std_zero(self, spark):
        from scikg_spark.pipeline.evaluate import cross_validate

        tagged = self._tagged(spark).cache()
        out = cross_validate(tagged, tagged, num_pass=3)
        assert len(out["passes"]) == 3
        assert out["macro_f1_mean"] == 1.0
        assert out["macro_f1_std"] == 0.0

    def test_imperfect_predictions_vary_across_passes(self, spark):
        from scikg_spark.pipeline.evaluate import cross_validate

        truth = self._tagged(spark).cache()
        pred = self._tagged(spark, perturb=True).cache()
        out = cross_validate(pred, truth, num_pass=5)
        assert out["macro_f1_mean"] < 1.0
        assert out["macro_f1_std"] > 0.0  # different splits, different F1
        # deterministic: same seed, same result
        again = cross_validate(pred, truth, num_pass=5)
        assert again == out


def test_gate_scores_a_planted_corpus_perfectly(tmp_path):
    """The gate job's code path end to end over a planted two-statement
    TSV in the reference's block format: the gold pipeline and the truth
    decode agree, so P = R = 1.0. This is not the reference-corpus gate."""
    import json
    import os
    import subprocess
    import sys

    from conftest import session_env

    tsv = tmp_path / "stmts-eval.tsv"
    tsv.write_text(
        "===== d1 stmt1 =====\n"
        "WORD\tCats\teat\tfish\n"
        "POSTAG\tNNS\tVBP\tNN\n"
        "CAP\tB-C\tB-P\tB-C\n"
        "f1\tB-f1C\tB-f2P\tB-f3C\n"
        "===== d1 stmt2 =====\n"
        "WORD\tglucose\tactivates\tinsulin\tin\tliver\n"
        "POSTAG\tNN\tVBZ\tNN\tIN\tNN\n"
        "CAP\tB-C\tB-P\tB-C\tB-P\tB-C\n"
        "f1\tB-f1C\tB-f2P\tB-f3C\tO\tO\n"
        "c1\tO\tO\tB-c1C\tB-c2P\tB-c3C\n")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from scikg_spark.jobs import evaluate_gate as g\n"
        "g.REFERENCE_TSVS = {'eval': %r}\n"
        "g.main(['--corpus', 'eval', '--cores', '2'])\n" % (repo, str(tsv)))
    proc = subprocess.run([sys.executable, "-c", code], env=session_env(tmp_path),
                          cwd=str(tmp_path), capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["statements"] == 2
    assert result["stage1_byte_mismatches"] == 0
    assert result["triples_emitted"] == 3
    assert result["precision"] == result["recall"] == 1.0


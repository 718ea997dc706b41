"""One-command P/R gate: run the Spark pipeline on the reference's gold
corpora (gold-tag stand-in tagger, mirroring utils.py:2383-2399) and score
its emitted triples against the reference decode with the reference's own
tuple metric. Prints one JSON line; the gate is P and R >= 0.95 (expected:
exactly 1.0 — identical deterministic code path).

    python -m scikg_spark.jobs.evaluate_gate [--corpus eval|train|both]
"""

from __future__ import annotations

import argparse
import json

REFERENCE_TSVS = {
    "eval": "/root/reference/data/stmts-eval.tsv",
    "train": "/root/reference/data/stmts-train.tsv",
}


def main(argv=None):
    parser = argparse.ArgumentParser()
    parser.add_argument("--corpus", default="eval", choices=["eval", "train", "both"])
    parser.add_argument("--cores", type=int, default=8)
    parser.add_argument("--replicate", type=int, default=1,
                        help="replicate the gold corpus N times under fresh "
                             "doc ids (scale evidence: the gate holds on a "
                             "corpus N times larger)")
    args = parser.parse_args(argv)

    from scikg_spark.core.parsing import parse_stmt_blocks
    from scikg_spark.pipeline.evaluate import summarize_match, tuple_match_scores
    from scikg_spark.pipeline.fused import _decode_rows, extract_tuples
    from scikg_spark.pipeline.gold import gold_frames_from_blocks
    from scikg_spark.pipeline.session import get_spark
    from scikg_spark.pipeline.stage1 import extract_statements, verify_extraction
    from scikg_spark.pipeline.stage2 import TUPLES_SCHEMA

    names = ["eval", "train"] if args.corpus == "both" else [args.corpus]
    blocks = []
    for n in names:
        with open(REFERENCE_TSVS[n]) as f:
            blocks.extend(parse_stmt_blocks(f))
    if args.replicate > 1:
        base = list(blocks)
        blocks = []
        for i in range(args.replicate):
            for b in base:
                blocks.append({**b, "doc_id": f"{b['doc_id']}r{i}"})

    spark = get_spark(app_name="scikg-gate", cores=args.cores)
    try:
        pages, gold, oracle = gold_frames_from_blocks(spark, blocks)
        mismatches = verify_extraction(pages)
        stmts = extract_statements(pages)
        pred = extract_tuples(stmts, tagger="gold", gold=gold).cache()

        # truth side: the pure-Python reference decode of the same gold tags,
        # through the pipeline's own row builder (no url: the score keys on
        # doc_id, stmt_id and kind)
        truth = spark.createDataFrame(
            [row for (doc_id, stmt_id), (words, fact, cond) in oracle.items()
             for row in _decode_rows(None, doc_id, stmt_id, words, fact, cond)],
            schema=TUPLES_SCHEMA)

        summary = {r.kind: r for r in
                   summarize_match(tuple_match_scores(pred, truth)).collect()}
        result = {
            "corpus": args.corpus,
            "statements": len(oracle),
            "stage1_byte_mismatches": mismatches,
            "triples_emitted": pred.count(),
            "precision": summary["all"].precision,
            "recall": summary["all"].recall,
            "precision_fact": summary["f"].precision,
            "recall_fact": summary["f"].recall,
            "precision_cond": summary["c"].precision,
            "recall_cond": summary["c"].recall,
            "gate_pass": bool(summary["all"].precision >= 0.95
                              and summary["all"].recall >= 0.95),
        }
        print(json.dumps(result))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

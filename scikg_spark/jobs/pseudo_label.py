"""Self-training pseudo-labeling job — the reference's KG-growth path
(self_train/self_train.py auto_labeling, :79-214) as a batch Spark job:

  unlabeled pages -> statements -> model tags -> AR/TC/SH/DEL corrections ->
  pseudo-labeled statements table (+ optional reference-format TSV)

The retraining half of the loop (M6) is offline by design (SURVEY.md §2.8);
this job produces exactly the artifact that retraining consumes.
"""

from __future__ import annotations

import argparse
import json


def main(argv=None):
    parser = argparse.ArgumentParser(description="scikg pseudo-labeling")
    parser.add_argument("--documents", required=True,
                        help="testdata dir; pages synthesized from documents.parquet")
    parser.add_argument("--out", required=True, help="output dir")
    parser.add_argument("--tagger", default="neural",
                        choices=["neural", "ensemble", "rule"])
    parser.add_argument("--weights",
                        help="trained .npz checkpoint for --tagger "
                             "neural/ensemble (default: the committed "
                             "bptt_best_single/ensemble_111)")
    parser.add_argument("--ar-fact", help="association-rule file (fact head)")
    parser.add_argument("--ar-cond", help="association-rule file (condition head)")
    parser.add_argument("--tc", action="store_true")
    parser.add_argument("--tcdel", action="store_true")
    parser.add_argument("--sh", action="store_true")
    parser.add_argument("--del", dest="del_", action="store_true")
    parser.add_argument("--tsv", action="store_true",
                        help="also write the reference tag-seqs TSV format")
    parser.add_argument("--cores", type=int, default=None)
    args = parser.parse_args(argv)

    from scikg_spark.core.correct import ARCorrecter
    from scikg_spark.core.neural import DEFAULT_CHECKPOINTS
    from scikg_spark.pipeline.session import get_spark
    from scikg_spark.pipeline.sinks import write_tag_seqs_tsv
    from scikg_spark.pipeline.stage1 import (
        build_pages_from_documents, extract_statements)
    from scikg_spark.pipeline.stage2 import tag_statements

    if bool(args.ar_fact) != bool(args.ar_cond):
        parser.error("--ar-fact and --ar-cond must be given together")
    ar = None
    if args.ar_fact:
        ar = ARCorrecter.from_files(args.ar_fact, args.ar_cond)
    weights = args.weights or DEFAULT_CHECKPOINTS.get(args.tagger)

    spark = get_spark(app_name="scikg-pseudo-label", cores=args.cores)
    try:
        docs = spark.read.parquet(f"{args.documents}/documents.parquet")
        stmts = extract_statements(build_pages_from_documents(docs))
        n_in = stmts.cache().count()
        tagged = tag_statements(
            stmts, mode=args.tagger, ar=ar,
            use_tc=args.tc, use_tcdel=args.tcdel,
            use_sh=args.sh, use_del=args.del_, weights_path=weights)
        tagged.write.mode("overwrite").parquet(f"{args.out}/pseudo_labeled")
        out_df = spark.read.parquet(f"{args.out}/pseudo_labeled")
        n_out = out_df.count()
        if args.tsv:
            rows = out_df.orderBy("doc_id", "stmt_id").toLocalIterator()
            write_tag_seqs_tsv(
                ({k: r[k] for k in ("doc_id", "stmt_id", "words", "postags",
                                    "caps", "fact_tags", "cond_tags")}
                 for r in rows),
                f"{args.out}/pseudo_labeled_tag_seqs.tsv")
        print(json.dumps({"statements_in": n_in, "statements_kept": n_out,
                          "dropped": n_in - n_out}))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

"""The self-training loop (reference lifecycle §3.3:
self_train/self_train.py:301-329) as one composed Spark job:

  for each of N unlabeled parts:
      1. pseudo-label the part with the CURRENT model
         (bootstrap teacher = the deterministic rule tagger, standing in for
         the reference's supervised seed model). The pass is DISTRIBUTED:
         predict + corrections run inside the Arrow UDFs on the executors
         (tag_statements(mode='probe', weights_path=...)); only the
         surviving labeled rows reach the driver — never the raw corpus
      2. apply the correction/filter chain (AR/TC/SH/DEL flags)
      3. accumulate the surviving pseudo-labels
      4. retrain the probe heads on everything accumulated so far
         (the reference's retrain_model step, utils.py:3283-3347, as the
         in-repo weighted-NLL head training)

Prints one JSON line with per-iteration holdout accuracy; saves the final
weights for ``tag_statements(mode='probe', weights_path=...)``.
"""

from __future__ import annotations

import argparse
import json
import tempfile
import time


def main(argv=None):
    parser = argparse.ArgumentParser()
    parser.add_argument("--documents", required=True)
    parser.add_argument("--out", required=True, help="final .npz weights path")
    parser.add_argument("--parts", type=int, default=3,
                        help="number of unlabeled parts (reference uses 5)")
    parser.add_argument("--epochs-per-part", type=int, default=8)
    parser.add_argument("--lr", type=float, default=0.3)
    parser.add_argument("--tc", action="store_true")
    parser.add_argument("--sh", action="store_true")
    parser.add_argument("--del", dest="del_", action="store_true")
    parser.add_argument("--ar-fact")
    parser.add_argument("--ar-cond")
    parser.add_argument("--cores", type=int, default=8)
    args = parser.parse_args(argv)
    if bool(args.ar_fact) != bool(args.ar_cond):
        parser.error("--ar-fact and --ar-cond must be given together")

    import numpy as np
    from collections import Counter
    from pyspark.sql import functions as F

    from scikg_spark.core.correct import ARCorrecter
    from scikg_spark.core.neural import HeadTrainer, ProbeTagger, save_tagger
    from scikg_spark.jobs.train_bptt import pack_labeled, token_accuracy
    from scikg_spark.pipeline.session import get_spark
    from scikg_spark.pipeline.stage1 import (
        build_pages_from_documents, extract_statements)
    from scikg_spark.pipeline.stage2 import tag_statements

    ar = None
    if args.ar_fact:
        ar = ARCorrecter.from_files(args.ar_fact, args.ar_cond)

    spark = get_spark(app_name="scikg-self-train", cores=args.cores)
    try:
        docs = spark.read.parquet(f"{args.documents}/documents.parquet")
        # holdout part never trains; remaining parts are the unlabeled stream
        part_col = F.pmod(F.col("doc_id"), F.lit(args.parts + 1)).cast("int")
        docs = docs.withColumn("_part", part_col).cache()

        def statements_of(part):
            return extract_statements(
                build_pages_from_documents(
                    docs.filter(F.col("_part") == part).drop("_part")))

        # holdout labels come from the bootstrap teacher (rule tagger)
        holdout = pack_labeled(
            tag_statements(statements_of(0), mode="rule").collect())
        probe = ProbeTagger(seed=824)

        accum = ([], [], [], [], [])
        history = []
        rng = np.random.default_rng(0)
        t0 = time.time()
        # holds the per-part probe checkpoints that the pseudo-labelling
        # pass loads; removed when the loop ends
        with tempfile.TemporaryDirectory(prefix="scikg_selftrain_") as tmp_dir:
            for part in range(1, args.parts + 1):
                stmts = statements_of(part)
                # parts after the first are pseudo-labeled by the CURRENT probe;
                # part 1 bootstraps from the rule teacher
                if part == 1:
                    rows = tag_statements(
                        stmts, mode="rule", ar=ar, use_tc=args.tc,
                        use_sh=args.sh, use_del=args.del_).collect()
                else:
                    # DISTRIBUTED pseudo-labeling: ship the current probe weights
                    # to the executors (local checkpoint path here; an
                    # sc.broadcast / shared store on a real cluster) and run
                    # predict + the correction chain inside the Arrow UDFs —
                    # only the SURVIVING labeled rows (the training arrays)
                    # come back to the driver, never the raw corpus.
                    wpath = f"{tmp_dir}/probe_part{part}.npz"
                    save_tagger(probe, wpath)
                    rows = tag_statements(
                        stmts, mode="probe", weights_path=wpath, ar=ar,
                        use_tc=args.tc, use_sh=args.sh, use_del=args.del_
                    ).collect()
                got = pack_labeled(rows)
                for acc_list, new in zip(accum, got):
                    acc_list.extend(new)

                tw, tp, tc_, tyf, tyc = accum
                wf = HeadTrainer.class_weights(Counter(t for s in tyf for t in s))
                wc = HeadTrainer.class_weights(Counter(t for s in tyc for t in s))
                idx = np.arange(len(tw))
                for _ in range(args.epochs_per_part):
                    rng.shuffle(idx)
                    for s in range(0, len(idx), 64):
                        b = idx[s:s + 64]
                        probe.train_step(
                            [tw[i] for i in b], [tp[i] for i in b],
                            [tc_[i] for i in b], [tyf[i] for i in b],
                            [tyc[i] for i in b], wf, wc, lr=args.lr)
                history.append({
                    "part": part,
                    "pseudo_labeled": len(rows),
                    "accumulated": len(tw),
                    "holdout_acc": round(token_accuracy(probe, *holdout), 4),
                })

        save_tagger(probe, args.out)
        print(json.dumps({
            "parts": args.parts,
            "holdout_statements": len(holdout[0]),
            "iterations": history,
            "train_sec": round(time.time() - t0, 1),
            "weights": args.out,
        }))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

"""Distillation job (the in-repo half of the self-training loop): fit the
neural tagger's output heads to the rule tagger's labels and save the model
with ``neural.save_tagger``: a checkpoint consumable by
``tag_statements(mode='neural', weights_path=...)``, or by mode='probe'
with ``--probe``.

The encoder is frozen (head-only probe — M6-lite, see core/neural.HeadTrainer);
full BPTT is jobs/train_bptt.py, whose labeled-data loader and holdout
metrics this job shares. Statements are drawn from the synthesized
pages of the given documents table; labels come from the deterministic rule
tagger, mirroring how self_train/self_train.py:309-323 retrains on its own
pseudo-labels.

    python -m scikg_spark.jobs.train_heads --documents /root/testdata/sf0.001 \
        --out /tmp/heads.npz --epochs 20
"""

from __future__ import annotations

import argparse
import json
import time


def main(argv=None):
    parser = argparse.ArgumentParser()
    parser.add_argument("--documents", required=True)
    parser.add_argument("--out", required=True, help="output .npz weights path")
    parser.add_argument("--epochs", type=int, default=20)
    parser.add_argument("--lr", type=float, default=0.3)
    parser.add_argument("--batch", type=int, default=64)
    parser.add_argument("--holdout", type=float, default=0.2)
    parser.add_argument("--cores", type=int, default=8)
    parser.add_argument("--probe", action="store_true",
                        help="train the feature-augmented ProbeTagger heads "
                             "(reaches ~0.99 holdout token accuracy) instead "
                             "of the plain linear heads")
    args = parser.parse_args(argv)

    import numpy as np
    from collections import Counter

    from scikg_spark.core.neural import (
        HeadTrainer, MimoTagger, ProbeTagger, save_tagger)
    from scikg_spark.jobs.train_bptt import (
        load_labeled, token_accuracy, triple_prf)

    words, pos, cap, yf, yc = load_labeled(args.documents, args.cores)

    n_hold = max(1, int(len(words) * args.holdout))
    hold = slice(0, n_hold)
    train = slice(n_hold, None)
    holdout = (words[hold], pos[hold], cap[hold], yf[hold], yc[hold])

    if args.probe:
        model = ProbeTagger(seed=824)
        trainer = None
    else:
        model = MimoTagger(seed=824)
        trainer = HeadTrainer(model, lr=args.lr)
    w_fact = HeadTrainer.class_weights(Counter(t for s in yf[train] for t in s))
    w_cond = HeadTrainer.class_weights(Counter(t for s in yc[train] for t in s))

    acc0 = token_accuracy(model, *holdout)
    idx = np.arange(len(words[train]))
    rng = np.random.default_rng(0)
    tw, tp, tc = words[train], pos[train], cap[train]
    tf, tcond = yf[train], yc[train]
    t0 = time.time()
    loss_f = loss_c = float("nan")
    for _epoch in range(args.epochs):
        rng.shuffle(idx)
        for s in range(0, len(idx), args.batch):
            b = idx[s:s + args.batch]
            step_args = ([tw[i] for i in b], [tp[i] for i in b],
                         [tc[i] for i in b], [tf[i] for i in b],
                         [tcond[i] for i in b], w_fact, w_cond)
            if args.probe:
                loss_f, loss_c = model.train_step(*step_args, lr=args.lr)
            else:
                loss_f, loss_c = trainer.step(*step_args)
    acc1 = token_accuracy(model, *holdout)
    # triple-level quality: the model's holdout tags decoded and scored
    # against the rule labels with the reference's own tuple metric
    precision, recall, _ = triple_prf(model, *holdout)

    save_tagger(model, args.out)
    print(json.dumps({
        "mode": "probe" if args.probe else "linear",
        "statements": len(words),
        "epochs": args.epochs,
        "final_loss_fact": round(loss_f, 4),
        "final_loss_cond": round(loss_c, 4),
        "holdout_token_acc_before": round(acc0, 4),
        "holdout_token_acc_after": round(acc1, 4),
        "holdout_triple_precision": precision,
        "holdout_triple_recall": recall,
        "train_sec": round(time.time() - t0, 1),
        "weights": args.out,
    }))


if __name__ == "__main__":
    main()

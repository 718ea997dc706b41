"""Scaling-evidence job: fused extraction pipeline at a given parallelism.

The north rule's two-cluster-size criterion is evidenced in-sandbox by running
THIS job at two ``--cores`` levels (e.g. 8 and 32) on identical input
(BASELINE.md driver instruction): same data, same partitioning, only the
executor-thread count varies. Timing excludes JVM/session startup and Python
worker cold start (one warmup pass), and reports the median of ``--trials``
measured passes. ``--ceiling`` additionally measures the box's pure-Python
multiprocessing scaling on equivalent-shape compute — the hardware bound that
VM frequency/steal places on ANY engine's efficiency number here.
"""

from __future__ import annotations

import argparse
import json
import statistics
import time


def hardware_ceiling(procs: int, chunks: int = 64, iters: int = 4_000_000) -> float:
    """Pure-Python multiprocessing throughput (Miters/s) at ``procs``."""
    import multiprocessing as mp

    t0 = time.time()
    with mp.Pool(procs) as pool:
        pool.map(_burn, [iters] * chunks)
    return chunks * iters / 1e6 / (time.time() - t0)


def _burn(n):
    s = 0
    for i in range(n):
        s += i * i
    return s


def main(argv=None):
    parser = argparse.ArgumentParser()
    parser.add_argument("--cores", type=int, required=True)
    parser.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    parser.add_argument("--repeat", type=int, default=8,
                        help="re-process the corpus N times (lengthens the job)")
    parser.add_argument("--trials", type=int, default=3)
    parser.add_argument("--partitions", type=int, default=128)
    parser.add_argument("--ceiling", action="store_true",
                        help="also measure the pure-Python multiprocessing ceiling")
    parser.add_argument("--arrow-batch", type=int, default=512,
                        help="spark.sql.execution.arrow.maxRecordsPerBatch")
    parser.add_argument("--tagger", default="rule",
                        choices=("rule", "neural", "ensemble"),
                        help="rule = fused extraction (the round-2 evidence "
                             "path); neural/ensemble = trained-checkpoint "
                             "inference (numpy BiLSTM on executors)")
    parser.add_argument("--weights",
                        help="trained .npz checkpoint for --tagger "
                             "neural/ensemble (default: the committed one)")
    args = parser.parse_args(argv)

    import os

    os.environ.setdefault("SCIKG_DRIVER_MEM", "24g")

    from pyspark.sql import functions as F

    from scikg_spark.pipeline.fused import pages_to_tuples
    from scikg_spark.pipeline.session import get_spark
    from scikg_spark.pipeline.stage1 import build_pages_from_documents

    result = {"cores": args.cores, "partitions": args.partitions}
    if args.ceiling:
        result["ceiling_miters_per_sec"] = round(hardware_ceiling(args.cores), 1)

    spark = get_spark(app_name=f"scikg-scaling-{args.cores}", cores=args.cores,
                      shuffle_partitions=max(args.cores * 2, 16),
                      arrow_batch=args.arrow_batch)
    result["arrow_batch"] = args.arrow_batch
    try:
        docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
        if args.repeat > 1:
            base = docs
            for i in range(1, args.repeat):
                base = base.union(
                    docs.withColumn("doc_id",
                                    F.col("doc_id") + F.lit(i * 10_000_000)))
            docs = base
        docs = docs.repartition(args.partitions).cache()
        result["docs"] = docs.count()

        # materialize pages once: the timed region is the ENGINE
        # (extract+parse+tag+decode), not the synthetic-corpus harness
        pages = build_pages_from_documents(docs).cache()
        pages.count()

        if args.tagger == "rule":
            def job():
                return pages_to_tuples(pages).count()
        else:
            # trained-checkpoint inference path: statements materialize once
            # (they are tagger-independent), the timed region is the numpy
            # BiLSTM tag pass + decode on executors
            from scikg_spark.core.neural import DEFAULT_CHECKPOINTS
            from scikg_spark.pipeline.fused import extract_tuples
            from scikg_spark.pipeline.stage1 import extract_statements

            weights = args.weights or DEFAULT_CHECKPOINTS[args.tagger]
            result["weights"] = weights
            stmts = extract_statements(pages).cache()
            result["statements"] = stmts.count()

            def job():
                return extract_tuples(
                    stmts, tagger=args.tagger, weights_path=weights).count()

        result["tagger"] = args.tagger
        job()  # warm python workers
        walls = []
        n_tuples = 0
        for _ in range(args.trials):
            t0 = time.time()
            n_tuples = job()
            walls.append(time.time() - t0)
        wall = statistics.median(walls)
        result.update({
            "tuples": n_tuples,
            "wall_sec_median": round(wall, 3),
            "wall_sec_all": [round(w, 3) for w in walls],
            "tuples_per_sec": round(n_tuples / wall, 1),
        })
        print(json.dumps(result))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

"""spark-submit entry point.

Cluster usage (north rule: ``spark-submit --py-files`` on multi-executor
clusters)::

    python -m scikg_spark.jobs.package      # builds dist/scikg_spark.zip
    spark-submit --py-files dist/scikg_spark.zip \
        --driver-java-options "$(python -c 'from scikg_spark.pipeline.session import JVM_OPTIONS; print(JVM_OPTIONS)')" \
        scikg_spark/jobs/run_pipeline.py \
        --pages <iceberg-or-parquet-path> --out /warehouse/scikg --tagger rule

spark-submit starts the driver JVM before ``get_spark`` runs, so the
session's ``spark.driver.extraJavaOptions`` comes too late there; pass
``session.JVM_OPTIONS`` (GC and JIT policy) as ``--driver-java-options``.

Local sandbox usage::

    python -m scikg_spark.jobs.run_pipeline --documents /root/testdata/sf0.001 \
        --out /tmp/scikg_out --cores 8
"""

from __future__ import annotations

import argparse
import json


def main(argv=None):
    parser = argparse.ArgumentParser(description="scikg_spark pipeline")
    src = parser.add_mutually_exclusive_group(required=True)
    src.add_argument("--pages", help="path to a pages parquet/Iceberg table")
    src.add_argument("--documents",
                     help="testdata dir; pages are synthesized from documents.parquet")
    parser.add_argument("--out", required=True, help="output warehouse dir")
    parser.add_argument("--tagger", default="rule",
                        choices=["rule", "neural", "ensemble"],
                        help="rule = fused teacher pipeline; neural/ensemble "
                             "= trained-checkpoint inference (numpy BiLSTM "
                             "on executors)")
    parser.add_argument("--weights",
                        help="trained .npz checkpoint for --tagger "
                             "neural/ensemble (default: the committed "
                             "ensemble_111/bptt_best_single)")
    parser.add_argument("--lang", default="en")
    parser.add_argument("--incremental", action="store_true",
                        help="treat --pages/--documents as a NEW batch "
                             "against an existing --out warehouse: stages "
                             "1-2 run on the delta only, statements/tuples "
                             "append as new snapshots, linking re-runs over "
                             "the union's mention vocabulary (the 'next "
                             "crawl snapshot arrived' catch-up shape)")
    parser.add_argument("--no-lsh", action="store_true",
                        help="link mentions by equal norm only, without "
                             "the 3-shingle Jaccard edges")
    parser.add_argument("--no-resume", action="store_true")
    parser.add_argument("--cores", type=int, default=None)
    parser.add_argument("--tc", action="store_true", help="TC smoothing")
    parser.add_argument("--del", dest="del_", action="store_true", help="DEL filter")
    parser.add_argument("--sh", action="store_true", help="SH length filter")
    args = parser.parse_args(argv)

    from scikg_spark.core.neural import DEFAULT_CHECKPOINTS
    from scikg_spark.pipeline.session import get_spark
    from scikg_spark.pipeline.stage1 import build_pages_from_documents
    from scikg_spark.pipeline.stage4 import SnapshotCatalog
    from scikg_spark.pipeline.runner import (
        run_pipeline, run_pipeline_incremental)

    weights = args.weights or DEFAULT_CHECKPOINTS.get(args.tagger)

    spark = get_spark(app_name="scikg-pipeline", cores=args.cores)
    try:
        if args.pages:
            pages = spark.read.parquet(args.pages)
        else:
            docs = spark.read.parquet(f"{args.documents}/documents.parquet")
            pages = build_pages_from_documents(docs)
        catalog = SnapshotCatalog(spark, args.out)
        corrections = {"use_tc": args.tc, "use_del": args.del_, "use_sh": args.sh}
        extra = {}
        if args.incremental:
            report = run_pipeline_incremental(
                spark, pages,
                catalog=catalog,
                tagger=args.tagger,
                weights_path=weights,
                lang=args.lang,
                use_lsh=not args.no_lsh,
                corrections=corrections,
            )
            extra = {k: v for k, v in report.items() if k != "tables"}
        else:
            run_pipeline(
                spark, pages,
                catalog=catalog,
                tagger=args.tagger,
                weights_path=weights,
                lang=args.lang,
                use_lsh=not args.no_lsh,
                resume=not args.no_resume,
                corrections=corrections,
            )
        summary = {name: catalog.manifest(name)["rows"]
                   for name in ("statements", "tuples", "entity_nodes", "edges")}
        print(json.dumps({"status": "ok", "tables": summary, **extra}))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

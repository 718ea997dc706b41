"""Force-distributed connected-components evidence at bench scale.

At test scale the driver union-find short-circuit always wins, so the
distributed CC rounds — the actual 100-TB path — had correctness tests but
no at-scale timing signal. This job runs the SAME graph (the sf0.1 MinHash
candidate-pair graph, the keep-policy input) through both paths of
``connected_components``:

  * driver   — union-find short-circuit (default threshold),
  * hashmin  — iterative hash-min propagation, ``driver_threshold=0``,

asserts both produce the identical (id, comp) labeling, and prints one JSON
line with wall times -> recorded in BENCH/BASELINE.md.

    python -m scikg_spark.jobs.bench_cc --sf-dir /root/testdata/sf0.1
"""

from __future__ import annotations

import argparse
import json
import time


def main(argv=None):
    parser = argparse.ArgumentParser()
    parser.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    parser.add_argument("--cores", type=int, default=32)
    args = parser.parse_args(argv)

    from pyspark.sql import functions as F

    from scikg_spark.ops.dedup import _docs, q_minhash_dup_pairs
    from scikg_spark.pipeline.session import get_spark
    from scikg_spark.pipeline.stage3 import connected_components

    spark = get_spark(app_name="scikg-bench-cc", cores=args.cores,
                      shuffle_partitions=16)
    try:
        docs = _docs(spark, args.sf_dir).select(
            F.col("doc_id").alias("id"))
        pairs = q_minhash_dup_pairs(spark, args.sf_dir)
        edges = pairs.select(F.col("doc_a").alias("src"),
                             F.col("doc_b").alias("dst")).localCheckpoint()
        n_edges = edges.count()
        vertices = docs.localCheckpoint()
        n_vertices = vertices.count()

        def run(name, fn):
            t0 = time.time()
            comp = fn()
            rows = sorted((r["id"], r["comp"]) for r in comp.collect())
            return {"algo": name, "sec": round(time.time() - t0, 3),
                    "labels": rows}

        results = [
            run("driver", lambda: connected_components(edges, vertices)),
            run("hashmin", lambda: connected_components(
                edges, vertices, driver_threshold=0)),
        ]
        base = results[0]["labels"]
        agree = {r["algo"]: r["labels"] == base for r in results}
        print(json.dumps({
            "metric": "cc_at_scale",
            "sf_dir": args.sf_dir,
            "cores": args.cores,
            "edges": n_edges,
            "vertices": n_vertices,
            "labels_agree": agree,
            "sec": {r["algo"]: r["sec"] for r in results},
        }))
        assert all(agree.values()), "CC labelings diverge"
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

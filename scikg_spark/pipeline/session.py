"""SparkSession construction with the scale-oriented defaults this engine
assumes everywhere: AQE (skew-join splitting + partition coalescing), Arrow
for every Python boundary, bounded Arrow batch sizes (the reference's
micro-batching, MIMO_Extractor.py:84, becomes Arrow batch sizing)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from scikg_spark.pipeline import appcds


def _ensure_package_visible_to_workers():
    """Python workers don't inherit driver ``sys.path`` edits; make the repo
    root importable for them (the local-mode stand-in for
    ``spark-submit --py-files scikg_spark.zip`` on a cluster). Must run
    before the JVM launches."""
    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    current = os.environ.get("PYTHONPATH", "")
    if repo_root not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + current if current else ""))
    # one BLAS thread per Python worker: N workers x multithreaded OpenBLAS
    # oversubscribes the box and tanks numpy-UDF scaling
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")


# Driver JVM flags. get_spark passes them as spark.driver.extraJavaOptions,
# which acts only when get_spark launches the JVM: it is inert on
# getOrCreate reuse, and under spark-submit the flags go on the command line
# as --driver-java-options.
# - ParallelGC: a throughput batch engine; it beat G1 by ~8% on the wide
#   Arrow-pass workload.
# - Tier-4 (C2) thresholds at 10x the JDK 17 defaults (5000, 600, 15000,
#   40000). Each job runs in a cold JVM. Split by JVM thread (4-core host),
#   a cold kgbench crawl_catchup op spent 36-44 of its 86-105 CPU-s in the
#   C2 compiler threads and 6-8 in C1. C1 keeps its thresholds; C2 now
#   compiles only code that stays hot ten times longer, which cut C2 to
#   ~14 CPU-s and the op to ~74. C1-only (TieredStopAtLevel=1) saved more
#   cold CPU but made warm ops 15-30% slower in wall time, so it was
#   rejected.
# - Unified-logging warnings go to stderr, not the JVM's default stdout: the
#   CLIs and kgbench parse stdout, and a run that dumps its AppCDS archive
#   (pipeline/appcds.py) prints hundreds of [warning][cds] lines.
# get_spark appends the AppCDS flags after these.
JVM_OPTIONS = " ".join((
    "-XX:+UseParallelGC",
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=6000",
    "-XX:Tier4CompileThreshold=150000",
    "-XX:Tier4BackEdgeThreshold=400000",
    "-Xlog:disable",
    "-Xlog:all=warning:stderr",
))


def get_spark(app_name="scikg", cores=None, shuffle_partitions=None,
              arrow_batch=512, extra_conf=None) -> SparkSession:
    _ensure_package_visible_to_workers()
    cores = int(cores or os.environ.get("SPARK_GRAFT_CPUS", 0) or os.cpu_count() or 4)
    shuffle_partitions = int(shuffle_partitions or max(cores, 8))
    memory = os.environ.get("SCIKG_DRIVER_MEM", "8g")
    java_options, dump = appcds.java_options(JVM_OPTIONS, memory)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce small shuffles to the advisory size instead of keeping
        # one partition per core: KB-sized exchanges collapse to 1 task
        # (10-60× fewer task launches on metadata-sized stages); large
        # shuffles still split by the 64 MB advisory target
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false")
        # AQE sizes every exchange from the DATA, not from the static
        # shuffle_partitions fallback: start shuffles at 2x core count and
        # let the 16 MB advisory coalesce downward. Without this, a 500 MB
        # pair-aggregation shuffle was capped at shuffle_partitions tasks
        # and then coalesced to ~5 by the old 64 MB advisory — the round-6
        # profile showed the dedup pair aggregations running 5-way on a
        # 32-core box. 16 MB keeps KB-sized metadata stages collapsing to
        # one task (parallelismFirst=false above) while giving ~30 tasks to
        # a ~500 MB exchange; both knobs scale with input size, not with
        # the local core count. 2x cores (not 8x) because iterative
        # latency-bound chains (CC rounds) materialize localCheckpoints at
        # the INITIAL width — 256-partition checkpoints cost ~0.5 s/query
        # of pure task launches at sf0.1 for no coalescing benefit.
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                str(max(cores * 2, shuffle_partitions)))
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        # prefer shuffled-hash over sort-merge when a side's per-partition
        # build fits (guide §3.1): the dedup/KG equi-joins are
        # high-fanout joins on small keys where the sort dominates
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                "256m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", memory)
        .config("spark.driver.extraJavaOptions", java_options)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    if dump:
        appcds.record_dump(spark, dump)
    return spark


def parallelize_scan(df):
    """Repartition a COMPUTE-bound scan to core count when the input has
    fewer splits than cores.

    Small corpora land in one parquet split, so every per-row-expensive
    stage downstream of the scan (shingling + md5, Arrow extraction UDFs,
    LM forwards) runs in ONE task regardless of core count — measured at
    sf0.1/local[32]: minhash 4.4 s -> 2.8 s, LM scoring 7.3 s -> 2.6 s,
    fused extraction 2.3 s -> 1.8 s. The round-robin shuffle this adds
    moves only the small input (KBs-MBs). At production scale the scan has
    more splits than cores and this is a no-op branch; cheap metadata-rate
    scans (plain aggregations) should NOT use it — the shuffle would
    dominate them."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df

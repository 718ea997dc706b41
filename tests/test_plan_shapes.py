"""Plan-shape and job-count pins for the dedup operators, the pipeline
stages and the kg analytics: a refactor that adds a Spark job, a Python
pass, a duplicated subtree (the self-join that made minhash/ngram re-run the
whole scan+hash pipeline once per join side) or a nested-loop join fails a
test here, not a benchmark read."""

import io
import os
import re
from contextlib import redirect_stdout

import pytest

SF = "/root/testdata/sf0.01"


def _formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _n_ops(plan: str, op: str) -> int:
    """Count operator DETAIL headers like '(12) Scan parquet' — formatted
    explain lists every operator twice (tree + details)."""
    return len(re.findall(rf"\(\d+\) {op}", plan))


def test_minhash_pairs_single_subtree(spark):
    """Pair generation happens in place on the collected band bucket: no
    join anywhere, and the signature pipeline scans the corpus exactly
    once."""
    from scikg_spark.ops.dedup import q_minhash_dup_pairs

    plan = _formatted(q_minhash_dup_pairs(spark, SF))
    assert "Join" not in plan, plan
    assert _n_ops(plan, "Scan parquet") == 1, plan


def test_contamination_single_subtree(spark):
    """Corpus x bench matches expand in place per capped gram group — one
    corpus scan, no join."""
    from scikg_spark.ops.dedup import q_contamination

    plan = _formatted(q_contamination(spark, SF))
    assert "Join" not in plan, plan
    assert _n_ops(plan, "Scan parquet") == 1, plan


def test_ngram_jaccard_joins_checkpoint_not_rescan(spark):
    """The band self-join and the hot-gram count read the checkpointed gram
    table, never the parquet scan — the gram/md5 pipeline ran exactly once
    at checkpoint time. Set sizes ride the checkpoint, so no sizes subtree
    re-scans the corpus either, and the hot-list anti-join is a broadcast
    (map-side drop, no gram-table shuffle for capping)."""
    from scikg_spark.ops.dedup import q_ngram_jaccard_pairs

    plan = _formatted(q_ngram_jaccard_pairs(spark, SF))
    assert _n_ops(plan, "Scan parquet") == 0, plan
    assert _n_ops(plan, "Scan ExistingRDD") >= 2, plan
    assert "BroadcastHashJoin LeftAnti" in plan, plan


def test_stage3_lsh_pairs_no_join(spark):
    """stage-3 LSH candidate pairs: in-place bucket expansion, no join."""
    from pyspark.sql import Row

    from scikg_spark.pipeline.stage3 import lsh_candidate_pairs

    phrases = spark.createDataFrame(
        [Row(phrase_id=i, norm=f"phrase number {i}") for i in range(20)])
    plan = _formatted(lsh_candidate_pairs(phrases))
    assert "Join" not in plan, plan


def test_union_find_mapping_is_jvm_local_relation(spark):
    """The driver union-find's broadcast mapping must build as an Arrow
    local relation (LocalTableScan), not a Python-RDD parallelize — the
    list-based createDataFrame launched 32 Python-worker tasks (7-35 CPU-s
    cold) per linking/CC pass just to ship a sub-1k-row table."""
    from pyspark.sql import functions as F

    from scikg_spark.pipeline.stage3 import _driver_union_find

    conf = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(conf)
    vertices = spark.range(10).select(F.col("id"))
    try:
        # sessions not built by get_spark may leave Arrow disabled
        for arrow in ("true", "false"):
            spark.conf.set(conf, arrow)
            comp = _driver_union_find([(0, 1), (1, 2), (5, 6)], vertices)
            plan = _formatted(comp)
            assert "applySchemaToPythonRDD" not in plan, (arrow, plan)
            assert _n_ops(plan, "LocalTableScan") == 1, (arrow, plan)
            assert sorted(map(tuple, comp.collect())) == [
                (0, 0), (1, 0), (2, 0), (3, 3), (4, 4), (5, 5), (6, 5),
                (7, 7), (8, 8), (9, 9)]
    finally:
        spark.conf.set(conf, before)


@pytest.mark.parametrize("regime", ["driver", "distributed"])
def test_link_entities_evaluates_upstream_once(spark, monkeypatch, regime):
    """link_entities evaluates its upstream exactly once in either regime:
    the driver regime in its one collect, the distributed one (forced by
    DRIVER_PHRASES = 0) by materializing the distinct-mention window once.
    The pre-round-6 `.cache()` form lost the race when AQE materialized the
    8 consumer stage jobs concurrently (star edges, LSH signatures, both
    Jaccard-verify sides, x2 for the symmetrizing union), re-running the
    upstream per consumer. An accumulator-counting UDF source detects any
    regression: 8 racing evaluations would read every source row ~8x."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from scikg_spark.pipeline import stage3
    from scikg_spark.pipeline.stage3 import link_entities

    if regime == "distributed":
        monkeypatch.setattr(stage3, "DRIVER_PHRASES", 0)

    acc = spark.sparkContext.accumulator(0)

    def spy(v):
        acc.add(1)
        return f"Concept_{v}"

    # nondeterministic: Spark may not legally re-evaluate it, so any extra
    # evaluation the accumulator sees is a real recomputation
    spy_udf = F.udf(spy, T.StringType()).asNondeterministic()
    n = 40
    base = spark.range(n).select(
        F.struct(spy_udf(F.col("id")).alias("text")).alias("s_c"),
        F.struct(F.concat(F.lit("Obj_"), (F.col("id") % 7).cast("string"))
                 .alias("text")).alias("o_c"))
    nodes, phrase_map = link_entities(base)
    nodes.collect()
    phrase_map.collect()
    # one evaluation of the source = n spy calls (the checkpointed form is
    # exactly 1.0x); the un-materialized form measures 2.0x even at 4 cores
    # (8x at 32), so the 1.5x bound fails any recomputation regression
    # while leaving slack for a stray retried task
    assert acc.value <= 1.5 * n, f"source evaluated {acc.value / n:.1f}x"


def _jobs_in_group(spark, group, fn):
    """``fn()`` and the number of Spark jobs it launched, counted under its
    own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_link_entities_driver_regime_job_count(spark):
    """A driver-sized vocabulary links with one bounded collect (2 jobs:
    the distinct's shuffle stage and the collect); the synonym merge runs
    one more, the collect of its label edges; the outputs run no job until
    consumed."""
    from pyspark.sql import functions as F

    from scikg_spark.ops import kg
    from scikg_spark.pipeline.stage3 import link_entities, merge_synonyms

    tuples = spark.range(200).select(
        F.struct(F.concat(F.lit("Concept_"), (F.col("id") % 50).cast("string"))
                 .alias("text")).alias("s_c"),
        F.struct(F.concat(F.lit("Obj_"), (F.col("id") % 7).cast("string"))
                 .alias("text")).alias("o_c")).localCheckpoint()
    syn = kg.load_synonyms(spark)
    (nodes, pmap), n = _jobs_in_group(
        spark, "pin-link", lambda: link_entities(tuples))
    assert n <= 2, n
    assert pmap.count() == 57
    _, n = _jobs_in_group(
        spark, "pin-merge-syn", lambda: merge_synonyms(nodes, pmap, syn))
    assert n <= 1, n


def test_link_entities_driver_regime_collects_phrases_only(spark, monkeypatch):
    """The driver regime's one collect reads (phrase, phrase_id) only: its
    plan computes no norm (no lower, no Python evaluation) and no shingle
    or minhash array (no transform, no array_min). Python norms, shingles
    and joins the collected rows."""
    from pyspark.sql import functions as F

    from scikg_spark.pipeline.stage3 import link_entities

    tuples = spark.range(60).select(
        F.struct(F.concat(F.lit("Concept_"), F.col("id").cast("string"))
                 .alias("text")).alias("s_c"),
        F.struct(F.lit(None).cast("string").alias("text")).alias("o_c"))
    plans = []
    frame = type(tuples)
    collect = frame.collect
    monkeypatch.setattr(frame, "collect",
                        lambda df: plans.append(_formatted(df)) or collect(df))
    _, pmap = link_entities(tuples)
    assert len(plans) == 1
    plan = plans[0]
    assert "phrase_id" in plan and "norm" not in plan, plan
    for op in ("lower(", "transform(", "array_min(", "EvalPython", "PythonUDF"):
        assert op not in plan, (op, plan)
    monkeypatch.undo()
    assert pmap.count() == 60


def test_kg_pagerank_driver_regime_job_count(spark):
    """PageRank over a driver-sized pair list: one bounded collect, the
    iterations in Python, and the ranking tail over a local relation — at
    most 3 jobs for the whole query (36 with the iterations in Spark)."""
    from scikg_spark.ops import kg

    from conftest import TESTDATA

    sf = os.path.join(TESTDATA, "sf0.001")
    kg.materialize_kg_tables(spark, sf)
    df, n = _jobs_in_group(
        spark, "pin-pagerank", lambda: kg.kg_pagerank(spark, sf).toPandas())
    assert len(df) > 0
    assert n <= 3, n


def test_kg_triangle_count_driver_regime_job_count(spark):
    """Triangle counting over a driver-sized pair list: one bounded collect
    (the distinct's shuffle stage and the collect), then counting and
    ranking in Python — at most 3 jobs for the whole query."""
    from scikg_spark.ops import kg

    from conftest import TESTDATA

    sf = os.path.join(TESTDATA, "sf0.001")
    kg.materialize_kg_tables(spark, sf)
    df, n = _jobs_in_group(
        spark, "pin-triangles",
        lambda: kg.kg_triangle_count(spark, sf).toPandas())
    assert len(df) > 0
    assert n <= 3, n


def test_kg_degree_stats_job_count(spark):
    """Degree statistics aggregate the distinct entity pairs once and sum
    both of their sides: 3 jobs (the pair aggregate, the per-entity sum and
    the top-k), not the 5 of two per-side countDistinct aggregates, a full
    outer join and a top-k. Both endpoint rows of a pair come from one read
    of the pair aggregate, so the plan scans ``edges`` once (a union of the
    two sides planned the scan and the aggregate twice)."""
    from scikg_spark.ops import kg

    from conftest import TESTDATA

    sf = os.path.join(TESTDATA, "sf0.001")
    kg.materialize_kg_tables(spark, sf)
    df, n = _jobs_in_group(
        spark, "pin-degree", lambda: kg.kg_degree_stats(spark, sf).toPandas())
    assert len(df) == 20
    assert n <= 3, n
    plan = _formatted(kg.kg_degree_stats(spark, sf))
    assert _n_ops(plan, "Scan parquet") == 1, plan
    assert "Union" not in plan, plan


def test_runner_job_counts(spark, tmp_path):
    """One build (``run_pipeline``, resume off) over 30 sf0.001 documents
    runs 10 Spark jobs and one catch-up of 10 more documents 16, counted by
    job group: a change to the runner's stage protocol cannot add one."""
    from scikg_spark.pipeline.runner import (
        run_pipeline, run_pipeline_incremental)
    from scikg_spark.pipeline.stage1 import build_pages_from_documents
    from scikg_spark.pipeline.stage4 import SnapshotCatalog

    from conftest import TESTDATA

    docs = spark.read.parquet(
        os.path.join(TESTDATA, "sf0.001", "documents.parquet"))
    base, delta = (build_pages_from_documents(
        docs.filter(f"doc_id >= {lo} AND doc_id < {hi}")).localCheckpoint()
        for lo, hi in ((0, 30), (30, 40)))
    cat = SnapshotCatalog(spark, str(tmp_path))
    _, n_build = _jobs_in_group(
        spark, "pin-build",
        lambda: run_pipeline(spark, base, cat, resume=False))
    report, n_catchup = _jobs_in_group(
        spark, "pin-catchup",
        lambda: run_pipeline_incremental(spark, delta, cat))
    assert report["new_tuples"] > 0
    assert n_build <= 10, n_build
    assert n_catchup <= 16, n_catchup


@pytest.mark.parametrize("table", ["tuples", "edges", "nodes", "nodes_syn"])
def test_materialized_read_runs_no_job(spark, table):
    """A materialized table is read with its footer's schema: planning the
    read runs no schema-inference job."""
    from scikg_spark.ops import kg

    from conftest import TESTDATA

    sf = os.path.join(TESTDATA, "sf0.001")
    kg.materialize_kg_tables(spark, sf)
    df, n = _jobs_in_group(spark, f"pin-read-{table}",
                           lambda: kg._materialized(spark, sf, table))
    assert df.columns
    assert n == 0, n


@pytest.fixture(scope="module")
def stage2_inputs(spark, tmp_path_factory):
    """Materialized statements (so stage 1's pass is not in the plan), a
    gold frame of their rule tags, a tiny trained probe checkpoint and the
    fixture neural model's checkpoint."""
    from scikg_spark.core.neural import MimoTagger, ProbeTagger, save_tagger
    from scikg_spark.pipeline.stage1 import (
        build_pages_from_documents, extract_statements)
    from scikg_spark.pipeline.stage2 import tag_statements

    from conftest import TESTDATA

    docs = spark.read.parquet(
        os.path.join(TESTDATA, "sf0.001", "documents.parquet")).limit(20)
    stmts = extract_statements(build_pages_from_documents(docs)).localCheckpoint()
    gold = tag_statements(stmts, mode="rule").localCheckpoint()
    probe = ProbeTagger(seed=1)
    toy = ([["a", "b", "c"]], [["NN", "VBZ", "NN"]], [["B-C", "B-P", "B-C"]])
    probe.train_step(*toy, [[1, 2, 3]], [[1, 2, 3]])
    ckpts = tmp_path_factory.mktemp("ckpt")
    path = str(ckpts / "probe.npz")
    save_tagger(probe, path)
    neural_path = str(ckpts / "neural.npz")
    save_tagger(MimoTagger(), neural_path)
    return stmts, {"gold": {"gold": gold}, "probe": {"weights_path": path},
                   "neural": {"weights_path": neural_path}}


@pytest.mark.parametrize("mode,flags", [
    ("rule", {}), ("probe", {}), ("neural", {}), ("gold", {}),
    ("rule", {"use_tc": True, "use_del": True}),
], ids=["rule", "probe", "neural", "gold", "rule-tc-del"])
def test_stage2_is_one_python_pass(stage2_inputs, mode, flags):
    """Every tagger mode tags, corrects and decodes in one mapInPandas, and
    tag_statements corrects inside its one tagging pass: a chained second
    pass would run two Python workers per task slot (see fused.py)."""
    from scikg_spark.pipeline.fused import extract_tuples
    from scikg_spark.pipeline.stage2 import tag_statements

    stmts, mode_args = stage2_inputs
    kw = mode_args.get(mode, {})
    tuples = extract_tuples(stmts, tagger=mode, **kw, **flags)
    assert _n_ops(_formatted(tuples), "MapInPandas") == 1
    tagged = tag_statements(stmts, mode=mode, **kw,
                            **(flags or {"use_tc": True, "use_del": True}))
    assert _n_ops(_formatted(tagged), "MapInPandas") == 1


def test_partitioned_write_rebalances_by_partition_columns(spark, tmp_path,
                                                           monkeypatch):
    """A partitioned commit hash-distributes by its partition columns
    (RebalancePartitions, which AQE can coalesce and split by size) right
    under the observe; an unpartitioned commit adds no exchange. A
    ``repartition`` or ``coalesce`` in its place fails here."""
    from pyspark.sql import DataFrameWriter, functions as F

    from scikg_spark.pipeline.stage4 import SnapshotCatalog

    written = []
    parquet = DataFrameWriter.parquet

    def spy(self, path, *a, **k):
        written.append(self._df._jdf.queryExecution().analyzed().toString())
        return parquet(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    cat = SnapshotCatalog(spark, str(tmp_path))
    df = spark.range(40).select(
        "id", F.when(F.col("id") % 2 == 0, "f").otherwise("c").alias("kind"),
        (F.col("id") % 4).cast("int").alias("url_bucket"))
    cat.write(df, "edges", partition_by=("kind", "url_bucket"))
    cat.write(df, "flat")
    partitioned, flat = written
    top = partitioned.splitlines()
    assert top[0].startswith("CollectMetrics"), partitioned
    assert re.match(r"\W*RebalancePartitions \[kind#\d+, url_bucket#\d+\]",
                    top[1]), partitioned
    assert "Repartition" not in partitioned, partitioned
    assert "Rebalance" not in flat and "Repartition" not in flat, flat

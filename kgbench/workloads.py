"""The benchmark's workloads, run against the program's public entry points:
``get_spark``, ``runner.run_pipeline``, ``runner.run_pipeline_incremental``
and the ``ops.kg`` analytics.

Each workload class has ``setup`` (inputs and the program state every op
starts from; timed as set-up), ``after_setup`` (untimed oracles),
``prepare`` (untimed per-op staging; returns the op's state), ``op`` (the
timed unit), ``check`` (untimed output check), ``discard`` and, for the
traced run, ``install_spans`` and ``layer_metrics``. ``run_workload`` drives
them: ops until the measuring window is spent (at least one), each checked
outside its timed region. No op is a warm-up: the first op of each run is
measured (see ``run_workload``).
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from types import SimpleNamespace

import checks
import inputs
import spans

# Sizes; op time is dominated by the pipeline's per-job overhead, not by
# these, so they are kept small enough for one run to stay near a minute on
# a 4-core host (see README.md).
CRAWL_DOCS, CRAWL_WORDS, DELTA_SHARE = 1000, 8000, 0.05
GRAPH_DOCS, GRAPH_WORDS = 200, 2000
PAGE_FILES = 8  # the crawl lands as several files, so extraction spans cores
MAX_FAILED = 2  # measuring stops once this many measured ops have failed

KG_QUERIES = ("kg_top_facts", "kg_fact_conditions", "kg_statement_stats",
              "kg_entity_cooccurrence", "kg_degree_stats", "kg_pagerank",
              "kg_triangle_count", "kg_synonym_clusters")


def write_pages(rows: list[dict], path: str, files: int = PAGE_FILES) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("url", pa.string()),
                        ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    os.makedirs(path, exist_ok=True)
    per = -(-len(rows) // files)
    for k in range(files):
        chunk = rows[k * per:(k + 1) * per]
        if chunk:
            pq.write_table(pa.Table.from_pylist(chunk, schema=schema),
                           os.path.join(path, f"part-{k:03d}.parquet"))


def write_documents(docs: list[list[str]], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(docs)), pa.int64()),
        "text": [" ".join(d) for d in docs],
        "lang": ["en"] * len(docs)}), path)


def warehouse_problems(spark, catalog, oracle) -> list[str]:
    """Compare a committed warehouse with the pure-Python oracle."""
    t = catalog.read("tuples").select(*checks.TUPLE_KEY).toPandas()
    cols = [t[c].tolist() for c in checks.TUPLE_KEY]
    problems = checks.check_tuples(zip(*cols), oracle)
    phrases = catalog.read("entity_map").select("phrase").toPandas()["phrase"]
    problems += checks.check_links(catalog.read("edges").count(), len(t),
                                   phrases.tolist(), oracle)
    return problems


def stage3_counts(spark, tuples) -> dict[str, float]:
    """Work counts of stage-3 linking over a committed tuples table, derived
    with the stage's own public functions outside every timed span."""
    from pyspark.sql import functions as F
    from scikg_spark.pipeline import stage3

    phrases = stage3.mention_phrases(tuples).localCheckpoint()
    reps = phrases.groupBy("norm").agg(F.min("phrase_id").alias("phrase_id"))
    cand = stage3.lsh_candidate_pairs(reps).localCheckpoint()
    n_cand = cand.count()
    verified = stage3.verify_jaccard(cand, reps).count()
    exact = stage3.exact_edges(phrases).count()
    return {"stage3.phrases": phrases.count(),
            "stage3.lsh_candidates": n_cand,
            "stage3.lsh_useful_ratio": verified / n_cand if n_cand else 0.0,
            "stage3.cc_edges": exact + verified}


class Context:
    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.n_dirs = 0

    def fresh_dir(self, stem: str) -> str:
        self.n_dirs += 1
        return os.path.join(self.work, f"{stem}-{self.n_dirs}")


class CrawlCatchup:
    """One op is a crawl job in the run's Spark session: ``run_pipeline``
    builds a fresh warehouse from the base crawl, then
    ``run_pipeline_incremental`` catches up a 5% delta."""

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def setup(self):
        ctx = self.ctx
        base, delta = inputs.build_catchup(
            ctx.seed, CRAWL_DOCS, CRAWL_WORDS, DELTA_SHARE)
        self.base_rows = inputs.pages_rows(base, 0)
        self.delta_rows = inputs.pages_rows(delta, len(base))
        self.base_path = ctx.fresh_dir("base_pages")
        self.delta_path = ctx.fresh_dir("delta_pages")
        write_pages(self.base_rows, self.base_path)
        write_pages(self.delta_rows, self.delta_path)

    def after_setup(self):
        self.oracle = checks.Oracle().add_pages(self.base_rows + self.delta_rows)

    def prepare(self):
        from scikg_spark.pipeline.stage4 import SnapshotCatalog

        spark = self.ctx.spark
        return SimpleNamespace(
            catalog=SnapshotCatalog(spark, self.ctx.fresh_dir("wh")),
            base=spark.read.parquet(self.base_path),
            delta=spark.read.parquet(self.delta_path))

    def op(self, st):
        from scikg_spark.pipeline.runner import (run_pipeline,
                                                 run_pipeline_incremental)

        spark = self.ctx.spark
        run_pipeline(spark, st.base, st.catalog, resume=False)
        res = run_pipeline_incremental(spark, st.delta, st.catalog)
        st.new_tuples = res["new_tuples"]

    def check(self, st) -> list[str]:
        return warehouse_problems(self.ctx.spark, st.catalog, self.oracle)

    def discard(self, st):
        shutil.rmtree(st.catalog.base_dir, ignore_errors=True)

    def install_spans(self):
        from scikg_spark.pipeline import runner
        from scikg_spark.pipeline.stage4 import SnapshotCatalog

        tr = self.ctx.tracer
        commit = {"statements": "stage1.extract_statements",
                  "tuples": "fused.extract_tuples"}
        tr.wrap(SnapshotCatalog, "write",
                lambda self, df, table, *a, **k: commit.get(table, "stage4.write"))
        tr.wrap(SnapshotCatalog, "_partition_lineage",
                lambda df: "stage4.lineage", static=True)
        tr.wrap(SnapshotCatalog, "read", lambda *a, **k: "stage4.read")
        tr.wrap(runner, "link_entities", lambda *a, **k: "stage3.link_entities")

    def layer_metrics(self, st) -> dict:
        """Counts of one op. The catch-up rewrites every table whole, so the
        rows it writes are the rows of each table's final snapshot; the
        extraction passes of the build and the catch-up together emit the
        final statements and tuples."""
        cat = st.catalog
        tables = ("statements", "tuples", "entity_nodes", "entity_map", "edges")
        rows = {t: cat.manifest(t)["rows"] for t in tables}
        written = sum(rows.values())
        out = stage3_counts(self.ctx.spark, cat.read("tuples"))
        out["stage3.entities"] = rows["entity_nodes"]
        out["stage1.py_rows_out"] = rows["statements"]
        out["fused.py_rows_out"] = rows["tuples"]
        out["stage4.rows_written_per_new_tuple"] = written / max(1, st.new_tuples)
        out.update({f"core.{k}_us": v for k, v in self.oracle.core_us().items()})
        return out


class GraphQueries:
    """One op: a round of the eight ``ops.kg`` analytics, in a seeded order,
    over ``materialize_kg_tables`` of a seeded corpus; every result is
    collected to the driver."""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.rounds = 0

    def setup(self):
        from scikg_spark.ops import kg

        ctx = self.ctx
        self.docs = inputs.build_corpus(ctx.seed, GRAPH_DOCS, GRAPH_WORDS)
        self.sf_dir = ctx.fresh_dir("corpus")
        write_documents(self.docs, os.path.join(self.sf_dir, "documents.parquet"))
        kg.materialize_kg_tables(self.ctx.spark, self.sf_dir)
        kg.clear_caches(self.ctx.spark)

    def after_setup(self):
        import duckdb
        from scikg_spark.ops import kg

        con = duckdb.connect()
        try:
            sql = kg.kg_oracle(self.sf_dir)
            self.expected = {q: con.sql(sql[q]).df() for q in KG_QUERIES}
        finally:
            con.close()

    def prepare(self):
        return SimpleNamespace(results={})

    def op(self, st):
        from scikg_spark.ops import kg

        order = list(KG_QUERIES)
        random.Random(f"{self.ctx.seed}:{self.rounds}").shuffle(order)
        self.rounds += 1
        tr = self.ctx.tracer
        for q in order:
            with tr.span(f"kg.{q}") if tr else contextlib.nullcontext():
                st.results[q] = getattr(kg, q)(self.ctx.spark, self.sf_dir).toPandas()

    def check(self, st) -> list[str]:
        problems = []
        for q, got in st.results.items():
            problems += checks.check_query(q, got, self.expected[q])
        return problems

    def discard(self, st):
        pass

    def install_spans(self):
        pass

    def layer_metrics(self, st) -> dict:
        from scikg_spark.core.synth import page_from_tokens

        # the pages build_pages_from_documents makes of the corpus
        pages = [page_from_tokens(str(i), d) for i, d in enumerate(self.docs)]
        oracle = checks.Oracle().add_pages(pages)
        return {f"core.{k}_us": v for k, v in oracle.core_us().items()}


WORKLOADS = {"crawl_catchup": CrawlCatchup, "graph_queries": GraphQueries}


def host_probe_mops(seconds: float = 0.2) -> float:
    """Pure-Python single-thread speed, as a host-drift diagnostic."""
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        sum(range(1000))
        n += 1
    return n * 1000 / (time.perf_counter() - t0) / 1e6


def _attempt(w, tracer, tree, n: int):
    """Run op ``n``; returns (wall seconds, process-tree CPU seconds, state),
    the state None if it raised."""
    st = w.prepare()
    c0, t0 = tree.cpu_s(), time.perf_counter()
    try:
        with tracer.op_span(n) if tracer else contextlib.nullcontext():
            w.op(st)
    except Exception:  # an op that raises is a failed op
        traceback.print_exc(file=sys.stderr)
        w.discard(st)
        return time.perf_counter() - t0, tree.cpu_s() - c0, None
    return time.perf_counter() - t0, tree.cpu_s() - c0, st


def _check(w, st) -> list[str]:
    try:
        return w.check(st)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return ["output check raised"]


def run_workload(name: str, spark, work: str, seed: int, seconds: float,
                 tracer, session_s: float) -> dict:
    """Set up, then measure ops until ``seconds`` are spent (at least one),
    checking each op's output outside its timed region. Measuring ends early
    once ``MAX_FAILED`` ops have failed.

    The first op is measured, with no warm-up op before it. A crawl job runs
    as a fresh process, so its users pay the cold start on every job, and an
    analytics session pays it on its first round. A warm-up op would also
    lengthen a run by a fifth to two thirds, which the benchmark's time
    budget does not allow (README.md)."""
    w = WORKLOADS[name](Context(spark, work, seed, tracer))
    tree = spans.ProcTree()
    t0 = time.perf_counter()
    w.setup()
    workload_s = time.perf_counter() - t0
    w.after_setup()
    if tracer is not None:
        w.install_spans()

    attempted = failed = 0
    times, cpus, spent, check_s, problems, kept = [], [], [], [], [], None
    while (sum(spent) < seconds or not times) and failed < MAX_FAILED:
        attempted += 1
        dt, cpu, st = _attempt(w, tracer, tree, attempted)
        spent.append(dt)
        if st is None:
            failed += 1
            problems.append(f"op {attempted} raised")
            continue
        times.append(dt)
        cpus.append(cpu)
        c0 = time.perf_counter()
        bad = _check(w, st)
        check_s.append(time.perf_counter() - c0)
        if bad:
            failed += 1
            problems += bad
        if tracer is None:
            w.discard(st)
        else:  # the traced run reads the last op that ran to its end
            if kept is not None:
                w.discard(kept)
            kept = st
    out = {
        "attempted": attempted, "failed": failed, "problems": problems,
        "setup_s": session_s + workload_s,
        "op_s": statistics.median(times or spent),
        "op_cpu_s": statistics.median(cpus) if cpus else 0.0,
        "session_s": session_s, "workload_setup_s": workload_s,
        "op_times_s": times, "op_cpu_times_s": cpus, "check_s": check_s,
    }
    if tracer is not None:
        out["layers"] = w.layer_metrics(kept) if kept is not None else {}
        if kept is not None:
            w.discard(kept)
    return out

"""KG-construction queries over the synthesized pages corpus.

Every query reads a MATERIALIZED table of its corpus:
:func:`materialize_kg_tables` extracts the corpus once and writes four plain
parquet tables — ``tuples``, ``edges`` (tuples with entity ids), ``nodes``
(the linked entities) and ``nodes_syn`` (the entities merged by the curated
synonyms) — under a FINGERPRINT of the corpus bytes. A query materializes on
first use, or when the corpus changed, and then only reads; this process
keeps no frame, cache or relink of its own. The build runs the pipeline's own
steps (``pages_to_tuples``, ``link_entities``, ``attach_entities``,
``merge_synonyms``), each once.

The extraction/linking queries (kg_triples, kg_entity_nodes, kg_entity_edges)
are rows-only driver checks: tag decoding is not SQL-expressible — their
oracle is the pure-Python reference decode, gated in
tests/test_pipeline_spark.py, and the runner parity test pins the tables to
the pipeline runner's own.

The downstream graph ANALYTICS (kg_top_facts, kg_statement_stats,
kg_entity_cooccurrence, kg_degree_stats, kg_synonym_clusters, and the
iterative kg_pagerank / kg_triangle_count) are SQL-expressible — each carries
a DuckDB mirror over the same parquet files (PageRank's mirror unrolls the
same fixed iterations as chained CTEs), so the analytics logic duels against
an independent engine.

Every read of a materialized table goes through :func:`_read_snapshot`,
which hands Spark the schema from the parquet footer, so a read runs no
Spark job. The graph analytics are sized to the graph: up to
:data:`DRIVER_PAIRS` distinct entity pairs, kg_pagerank and
kg_triangle_count run in the driver after one bounded collect and return a
JVM-local relation; over it they run as Spark joins, with identical outputs.
"""

from __future__ import annotations

import glob
import hashlib
import os
import tempfile

from pyspark.sql import functions as F

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
_MAT_ROOT = os.path.join(_REPO_ROOT, "checkpoints", "kg_materialized")
# canonical-corpus root: children of this dir materialize into the repo's
# committed checkpoints tree (anything else routes to a tmp slot). Env-var
# overridable so another layout still hits the shipped snapshots (ADVICE r4).
_TESTDATA_ROOT = os.environ.get("SPARK_GRAFT_TESTDATA_ROOT", "/root/testdata")


def _src_stamp(sf_dir: str) -> tuple:
    """(size, mtime_ns) stamp of the corpus parquet: the key under which
    :func:`_src_content_hash` memoizes the corpus hash, so a rewritten input
    is re-hashed within one process. Nanosecond mtime: a same-size rewrite
    within the same wall-clock second must still re-hash (integer-second
    stamps served such rewrites stale)."""
    path = os.path.join(sf_dir, "documents.parquet")
    stats = []
    if os.path.isdir(path):
        for name in sorted(os.listdir(path)):
            p = os.path.join(path, name)
            if os.path.isfile(p):
                st = os.stat(p)
                stats.append((name, st.st_size, st.st_mtime_ns))
    elif os.path.isfile(path):
        st = os.stat(path)
        stats.append((os.path.basename(path), st.st_size, st.st_mtime_ns))
    return tuple(stats)


_SYNONYMS_PATH = os.path.join(
    _REPO_ROOT, "scikg_spark", "data", "synonyms-label.txt")


def load_synonyms(spark, path: str = _SYNONYMS_PATH):
    """Synonym pairs from a reference-DSL label file (the ``n: [C1, as, C2]``
    canonicalization tuples, utils.py:638-644, read through the S3 label
    parser) -> DataFrame (phrase_a, phrase_b). ``#off`` suffixes, if present,
    are stripped — synonym edges join by surface form, not position."""
    from scikg_spark.core.labels import parse_label_file

    with open(path) as fh:
        nid2tuple, _, _, _, _ = parse_label_file(fh)
    rows = [(t[0][1].split("#")[0], t[2][1].split("#")[0])
            for t in nid2tuple.values()]
    # Arrow local relation (a LocalTableScan, with or without the session's
    # Arrow conf) — the list form would parallelize through Python-RDD tasks
    # just to ship a tiny dimension
    import pyarrow as pa

    return spark.createDataFrame(pa.table({
        "phrase_a": pa.array([a for a, _ in rows], pa.string()),
        "phrase_b": pa.array([b for _, b in rows], pa.string()),
    }))


def kg_triples(spark, sf_dir):
    """Flagship: the extraction output, one row per emitted triple (the
    materialized ``tuples`` table)."""
    return _materialized(spark, sf_dir, "tuples")


def kg_entity_nodes(spark, sf_dir):
    """Stage-3 canonical entities over the extracted concept mentions."""
    return _materialized(spark, sf_dir, "nodes").orderBy("entity_id")


def kg_entity_edges(spark, sf_dir):
    """Graph-shaped output: tuples with subject/object entity ids attached
    (the stage-4 edges table as a query)."""
    return _materialized(spark, sf_dir, "edges")


# ---------------------------------------------------------------------------
# Materialized graph tables + SQL-expressible downstream aggregations
# ---------------------------------------------------------------------------

# defaults shared between the Spark function signatures and the DuckDB
# mirrors (oracle parity holds exactly for the default arguments)
_COOC_MIN_SUPPORT = 2
_SYN_MIN_PHRASES = 2

def _mat_dir(sf_dir: str) -> str:
    """Canonical corpora (children of /root/testdata) materialize into the
    repo's committed checkpoints tree; anything else (test tmp dirs, copies
    that happen to share a basename like 'sf0.01') routes to a per-abspath
    slot under the system tmp root so distinct corpora never overwrite each
    other's snapshot and tests never write into the committed artifacts."""
    ap = os.path.abspath(sf_dir)
    base = os.path.basename(ap)
    if os.path.dirname(ap) == _TESTDATA_ROOT:
        return os.path.join(_MAT_ROOT, base)
    tag = hashlib.md5(ap.encode()).hexdigest()[:8]
    return os.path.join(tempfile.gettempdir(), "scikg_kg_materialized",
                        f"{base}-{tag}")


# (path, stat-stamp) -> content md5. The stat stamp (size+mtime_ns) gates
# re-hashing, so the bytes are read at most once per corpus version per
# process; the corpus parquet is KB-MB at duel scale so a re-hash is ms.
# The module's only in-process state.
_CONTENT_CACHE: dict[tuple, str] = {}


def clear_caches(spark=None) -> None:
    """Forget the memoized corpus hashes, so the next query re-hashes its
    corpus bytes. ``spark`` is accepted for callers that pass their session;
    nothing of it is cached."""
    _CONTENT_CACHE.clear()


def _src_content_hash(sf_dir: str) -> str:
    """md5 over the corpus parquet BYTES (per file, sorted by name).

    The on-disk materialization fingerprint keys on CONTENT, not stat: a
    regenerated-but-byte-identical corpus (fresh clone, driver re-running
    its deterministic generator — new mtimes, same bytes) must still hit
    the committed snapshots, while any real rewrite — including same-size
    same-second ones — re-materializes. The hash is memoized per cheap stat
    stamp (``_src_stamp``), so it is computed once per corpus version per
    process."""
    stamp = _src_stamp(sf_dir)
    key = (os.path.abspath(sf_dir), stamp)
    cached = _CONTENT_CACHE.get(key)
    if cached is not None:
        return cached
    path = os.path.join(sf_dir, "documents.parquet")
    files = ([os.path.join(path, n) for n in sorted(os.listdir(path))
              if os.path.isfile(os.path.join(path, n))]
             if os.path.isdir(path) else [path])
    h = hashlib.md5()
    for p in files:
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                h.update(chunk)
    digest = h.hexdigest()
    _CONTENT_CACHE[key] = digest
    return digest


def _fingerprint(sf_dir: str) -> str:
    # "v5": snapshot format version — bumping it re-materializes dirs written
    # by older code (v2 added nodes_syn; v3 added the plain nodes table so
    # kg_entity_nodes can serve from the snapshot; v4 keys on corpus CONTENT
    # instead of stat, so regenerated-identical testdata stays fresh; v5
    # links by the exact Jaccard join instead of MinHash-LSH)
    return hashlib.md5(("v5" + _src_content_hash(sf_dir)).encode()).hexdigest()


def materialize_kg_tables(spark, sf_dir: str) -> str:
    """Write the kg tables of a corpus as plain parquet snapshots:

      <repo>/checkpoints/kg_materialized/<sf>/tuples/    (flat triple rows)
      <repo>/checkpoints/kg_materialized/<sf>/edges/     (triples + entity ids)
      <repo>/checkpoints/kg_materialized/<sf>/nodes/     (canonical entities)
      <repo>/checkpoints/kg_materialized/<sf>/nodes_syn/ (synonym-merged)

    plus a ``FINGERPRINT`` of the corpus bytes, written last. Idempotent: a
    fresh fingerprint skips the rewrite. The build extracts the corpus into
    one tuples frame, cached for the build only, and runs one
    ``link_entities``, one ``attach_entities`` and one ``merge_synonyms``
    over it.

    The ``coalesce(1)`` single-file layout exists for these sf-scale duel
    mirrors (DuckDB reads one file per table). It is not the stage-boundary
    snapshot shape for a real deployment: the pipeline runner commits
    partitioned SnapshotCatalog tables."""
    from scikg_spark.pipeline.fused import pages_to_tuples
    from scikg_spark.pipeline.session import parallelize_scan
    from scikg_spark.pipeline.stage1 import build_pages_from_documents
    from scikg_spark.pipeline.stage3 import (
        attach_entities, link_entities, merge_synonyms)

    out = _mat_dir(sf_dir)
    fp_path = os.path.join(out, "FINGERPRINT")
    fp = _fingerprint(sf_dir)
    if os.path.isfile(fp_path):
        with open(fp_path) as fh:
            if fh.read().strip() == fp:
                return out

    def write(df, table):
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(out, table))

    # the Arrow extraction UDFs are compute-bound: track cores, not splits
    docs = parallelize_scan(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    tuples = pages_to_tuples(build_pages_from_documents(docs)).cache()
    try:
        write(tuples.select("doc_id", "stmt_id", "kind", "tuple_idx",
                            "subj", "pred", "obj"), "tuples")
        nodes, phrase_map = link_entities(tuples)
        write(attach_entities(tuples, phrase_map, phrase_map.count()).select(
            "doc_id", "stmt_id", "kind", "subj", "pred", "obj",
            "subj_entity", "obj_entity"), "edges")
        write(nodes, "nodes")
        write(merge_synonyms(nodes, phrase_map, load_synonyms(spark)),
              "nodes_syn")
    finally:
        tuples.unpersist()
    with open(fp_path, "w") as fh:
        fh.write(fp + "\n")
    return out


def _read_snapshot(spark, tdir: str):
    """The one read of a materialized table directory, with the schema from
    its parquet part file's footer: ``spark.read.parquet`` would run a Spark
    job to infer the same schema before planning."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    footer = pq.read_schema(min(glob.glob(os.path.join(tdir, "part-*.parquet"))))
    return spark.read.schema(from_arrow_schema(footer)).parquet(tdir)


def _materialized(spark, sf_dir: str, table: str):
    out = materialize_kg_tables(spark, sf_dir)
    return _read_snapshot(spark, os.path.join(out, table))


def kg_top_facts(spark, sf_dir):
    """Top (subj, pred, obj) fact patterns with per-statement condition
    support attached — the 'conditional statement' query shape the reference
    exists for. Plain SQL over the materialized tuples snapshot (duelled
    against the DuckDB mirror on the same files)."""
    t = _materialized(spark, sf_dir, "tuples")
    facts = t.filter(F.col("kind") == "f")
    conds = (
        t.filter(F.col("kind") == "c")
        .groupBy("doc_id", "stmt_id")
        .agg(F.count("*").alias("n_conditions"))
    )
    return (
        facts.join(conds, ["doc_id", "stmt_id"], "left")
        .fillna(0, subset=["n_conditions"])
        .groupBy("subj", "pred", "obj")
        .agg(F.count("*").alias("support"),
             F.sum("n_conditions").alias("total_conditions"))
        .orderBy(F.desc("support"), "subj", "pred", "obj")
        .limit(50)
    )


# the synthetic statements are near-unique, so pattern pairs rarely repeat
# — default keeps every pairing (support>=1); real corpora raise it
_FACT_COND_MIN_SUPPORT = 1


def kg_fact_conditions(spark, sf_dir, min_support: int = _FACT_COND_MIN_SUPPORT):
    """THE SciKG consumer query: condition-aware facts — for each (subj,
    pred, obj) fact pattern, the condition-tuple patterns stated alongside
    it (same statement), with co-statement support. The KDD'19 thesis is
    that facts are only valid under their conditions (README.md:1-8); this
    surfaces that pairing as a duelled SQL query over the tuples snapshot
    (the CLI's conditions-for is the point-lookup version)."""
    t = _materialized(spark, sf_dir, "tuples")
    facts = t.filter(F.col("kind") == "f").select(
        "doc_id", "stmt_id", "subj", "pred", "obj")
    conds = t.filter(F.col("kind") == "c").select(
        "doc_id", "stmt_id",
        F.col("subj").alias("cond_subj"),
        F.col("pred").alias("cond_pred"),
        F.col("obj").alias("cond_obj"))
    return (
        facts.join(conds, ["doc_id", "stmt_id"])
        .groupBy("subj", "pred", "obj",
                 "cond_subj", "cond_pred", "cond_obj")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= min_support)
    )


def kg_statement_stats(spark, sf_dir):
    """Per-document extraction statistics (correction-chain observability).
    SQL over the materialized tuples snapshot."""
    t = _materialized(spark, sf_dir, "tuples")
    return (
        t.groupBy("doc_id")
        .agg(
            F.countDistinct("stmt_id").alias("n_statements"),
            F.sum(F.when(F.col("kind") == "f", 1).otherwise(0)).alias("n_facts"),
            F.sum(F.when(F.col("kind") == "c", 1).otherwise(0)).alias("n_conditions"))
    )


def kg_entity_cooccurrence(spark, sf_dir, min_support: int = _COOC_MIN_SUPPORT):
    """Graph analytics over the materialized edges: canonical entity pairs
    that co-occur as (subject, object) across statements, with support and
    the dominant predicate (count-desc, then lexicographically-max pred) —
    the 'which concepts relate, and how' query a KG consumer runs first."""
    edges = _materialized(spark, sf_dir, "edges")
    paired = edges.filter(
        F.col("subj_entity").isNotNull() & F.col("obj_entity").isNotNull())
    per_pred = (
        paired.groupBy("subj_entity", "obj_entity", "pred")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        per_pred.groupBy("subj_entity", "obj_entity")
        .agg(F.sum("cnt").alias("support"),
             F.expr("max_by(pred, named_struct('c', cnt, 'p', pred))")
             .alias("top_pred"))
        .filter(F.col("support") >= min_support)
    )


# DuckDB mirrors over the SAME materialized parquet files the Spark side
# scans. ``kg_oracle(sf_dir)`` renders the mirrors for any corpus; the
# module-level ORACLE (the driver contract) renders for the driver's duel
# corpus — $SPARK_GRAFT_ORACLE_SF_DIR, default /root/testdata/sf0.01.
# Duelling at a different SF must go through kg_oracle(sf_dir) so Spark and
# DuckDB always read the same snapshot; tests/test_oracle_parity.py
# re-materializes before duelling.
def kg_oracle(sf_dir: str | None = None) -> dict[str, str]:
    if sf_dir is None:
        sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR",
                                os.path.join(_TESTDATA_ROOT, "sf0.01"))
    mat = _mat_dir(sf_dir)
    _T = os.path.join(mat, "tuples", "*.parquet")
    _E = os.path.join(mat, "edges", "*.parquet")
    _N = os.path.join(mat, "nodes_syn", "*.parquet")
    return {
        "kg_pagerank": _pagerank_oracle(_E),
        "kg_fact_conditions": f"""
        WITH t AS (SELECT * FROM read_parquet('{_T}'))
        SELECT f.subj, f.pred, f.obj,
               c.subj AS cond_subj, c.pred AS cond_pred, c.obj AS cond_obj,
               count(*) AS support
        FROM (SELECT * FROM t WHERE kind = 'f') f
        JOIN (SELECT * FROM t WHERE kind = 'c') c
          ON f.doc_id = c.doc_id AND f.stmt_id = c.stmt_id
        GROUP BY 1, 2, 3, 4, 5, 6
        HAVING count(*) >= {_FACT_COND_MIN_SUPPORT}
    """,
        "kg_triangle_count": f"""
        WITH und AS (
            SELECT DISTINCT least(subj_entity, obj_entity) AS lo,
                            greatest(subj_entity, obj_entity) AS hi
            FROM read_parquet('{_E}')
            WHERE subj_entity IS NOT NULL AND obj_entity IS NOT NULL
              AND subj_entity != obj_entity
        ),
        adj AS (
            -- the IDENTICAL per-pivot adjacency cap the Spark side applies
            -- (_capped_adjacency: row_number over md5(lo:hi) per lo)
            SELECT lo, hi FROM (
                SELECT lo, hi, row_number() OVER (
                    PARTITION BY lo
                    ORDER BY md5(lo::VARCHAR || ':' || hi::VARCHAR)) AS r
                FROM und)
            WHERE r <= {_MAX_ADJ}
        ),
        tri AS (
            SELECT w1.lo AS a, w1.hi AS b, w2.hi AS c
            FROM adj w1
            JOIN adj w2 ON w1.lo = w2.lo AND w1.hi < w2.hi
            JOIN und e ON e.lo = w1.hi AND e.hi = w2.hi
        ),
        per_vertex AS (
            SELECT entity_id, count(*) AS n_triangles
            FROM (SELECT a AS entity_id FROM tri
                  UNION ALL SELECT b FROM tri
                  UNION ALL SELECT c FROM tri)
            GROUP BY entity_id
        )
        SELECT entity_id, n_triangles, CAST(rank AS BIGINT) AS rank
        FROM (SELECT *, row_number() OVER (
                  ORDER BY n_triangles DESC, entity_id ASC) AS rank
              FROM per_vertex)
        WHERE rank <= 50
    """,
        "kg_synonym_clusters": f"""
        SELECT canonical, CAST(n_phrases AS BIGINT) AS n_phrases
        FROM read_parquet('{_N}')
        WHERE n_phrases >= {_SYN_MIN_PHRASES}
        ORDER BY n_phrases DESC, canonical
        LIMIT 50
    """,
        "kg_top_facts": f"""
        WITH t AS (SELECT * FROM read_parquet('{_T}')),
        conds AS (
            SELECT doc_id, stmt_id, count(*) AS n_conditions
            FROM t WHERE kind = 'c' GROUP BY doc_id, stmt_id
        )
        SELECT f.subj, f.pred, f.obj,
               count(*) AS support,
               CAST(sum(coalesce(c.n_conditions, 0)) AS BIGINT) AS total_conditions
        FROM (SELECT * FROM t WHERE kind = 'f') f
        LEFT JOIN conds c ON f.doc_id = c.doc_id AND f.stmt_id = c.stmt_id
        GROUP BY f.subj, f.pred, f.obj
        ORDER BY support DESC, f.subj, f.pred, f.obj
        LIMIT 50
    """,
    "kg_statement_stats": f"""
        SELECT doc_id,
               count(DISTINCT stmt_id) AS n_statements,
               CAST(sum(CASE WHEN kind = 'f' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_facts,
               CAST(sum(CASE WHEN kind = 'c' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_conditions
        FROM read_parquet('{_T}')
        GROUP BY doc_id
    """,
    "kg_entity_cooccurrence": f"""
        WITH per_pred AS (
            SELECT subj_entity, obj_entity, pred, count(*) AS cnt
            FROM read_parquet('{_E}')
            WHERE subj_entity IS NOT NULL AND obj_entity IS NOT NULL
            GROUP BY subj_entity, obj_entity, pred
        ),
        ranked AS (
            SELECT subj_entity, obj_entity, pred, cnt,
                   row_number() OVER (
                       PARTITION BY subj_entity, obj_entity
                       ORDER BY cnt DESC, pred DESC) AS rn,
                   CAST(sum(cnt) OVER (
                       PARTITION BY subj_entity, obj_entity) AS BIGINT)
                       AS support
            FROM per_pred
        )
        SELECT subj_entity, obj_entity, support, pred AS top_pred
        FROM ranked
        WHERE rn = 1 AND support >= {_COOC_MIN_SUPPORT}
    """,
    "kg_degree_stats": f"""
        WITH paired AS (
            SELECT subj_entity, obj_entity FROM read_parquet('{_E}')
            WHERE subj_entity IS NOT NULL AND obj_entity IS NOT NULL
        ),
        out_d AS (
            SELECT subj_entity AS entity_id,
                   count(DISTINCT obj_entity) AS out_degree,
                   count(*) AS out_support
            FROM paired GROUP BY 1
        ),
        in_d AS (
            SELECT obj_entity AS entity_id,
                   count(DISTINCT subj_entity) AS in_degree,
                   count(*) AS in_support
            FROM paired GROUP BY 1
        ),
        deg AS (
            SELECT coalesce(o.entity_id, i.entity_id) AS entity_id,
                   coalesce(o.out_degree, 0) AS out_degree,
                   coalesce(i.in_degree, 0) AS in_degree,
                   coalesce(o.out_degree, 0) + coalesce(i.in_degree, 0)
                       AS total_degree,
                   coalesce(o.out_support, 0) AS out_support,
                   coalesce(i.in_support, 0) AS in_support
            FROM out_d o FULL JOIN in_d i ON o.entity_id = i.entity_id
        )
        SELECT entity_id, out_degree, in_degree, total_degree,
               out_support, in_support, rank
        FROM (SELECT *, row_number() OVER (
                  ORDER BY total_degree DESC, entity_id ASC) AS rank FROM deg)
        WHERE rank <= 20
    """,
    }




def kg_synonym_clusters(spark, sf_dir, min_phrases: int = _SYN_MIN_PHRASES):
    """Synonym-merged entity clusters: canonical entities that hold more
    than one surface form once the curated n-tuple synonyms
    (data/synonyms-label.txt, reference utils.py:638-644) merged the linked
    entities (``stage3.merge_synonyms``). The one reference-semantic linking
    signal (label-file synonyms) exercised end to end and duelled: SQL over
    the materialized nodes_syn snapshot, DuckDB mirror on the same files. A
    fixture test pins that withholding the synonyms provably changes the
    clustering (tests/test_kg_materialized.py)."""
    nodes = _materialized(spark, sf_dir, "nodes_syn")
    return (
        nodes.filter(F.col("n_phrases") >= min_phrases)
        .select("canonical", F.col("n_phrases").cast("long").alias("n_phrases"))
        .orderBy(F.desc("n_phrases"), "canonical")
        .limit(50)
    )


# PageRank defaults shared with the oracle (exact parity on defaults)
_PR_ITERATIONS = 5
_PR_DAMPING = 0.85
# distinct entity-pair count up to which kg_pagerank and kg_triangle_count
# run in the driver; the bound connected_components uses for driver-sized
# edge lists
DRIVER_PAIRS = 1 << 18


def kg_pagerank(spark, sf_dir, iterations: int = _PR_ITERATIONS,
                damping: float = _PR_DAMPING, top_k: int = 50):
    """Fixed-iteration PageRank over the canonical entity graph (distinct
    directed (subj_entity, obj_entity) pairs from the materialized edges
    snapshot): rank_{t+1}(v) = (1-d)/N + d * Σ_{u→v} rank_t(u)/outdeg(u)
    — the documented no-dangling-redistribution variant, so the SAME
    computation unrolls as plain (non-recursive) SQL and the whole iterative
    algorithm DUELS against DuckDB. Final ranks round to 6 decimals for
    cross-engine float stability; top-k hubs by rank.

    Up to :data:`DRIVER_PAIRS` distinct pairs, one bounded collect brings
    the pairs to the driver, which runs the iterations in Python; the rank
    frame goes back as a JVM-local relation for the rounding and ranking.

    Scale shape over the bound: the per-iteration step is one equi-join +
    one aggregation (identical to the CC round shape); the rank frame
    localCheckpoints per round so plans stay flat. The partitioning is
    REUSED across rounds for free: ``wedges`` leaves its build join
    hash-partitioned on ``src``, ``nodes``/``rank`` leave distinct/join
    hash-partitioned on ``id``, and ``localCheckpoint`` preserves both — so
    each iteration's plan contains exactly ONE exchange, the inherent
    rank-mass transpose onto ``dst`` (pinned by
    ``test_pagerank_iteration_single_exchange`` with broadcast disabled, the
    at-scale join mode)."""
    edges = _materialized(spark, sf_dir, "edges")
    pairs = (
        edges.filter(F.col("subj_entity").isNotNull()
                     & F.col("obj_entity").isNotNull())
        .select(F.col("subj_entity").alias("src"),
                F.col("obj_entity").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    rows = (pairs.limit(DRIVER_PAIRS + 1).collect() if DRIVER_PAIRS
            else None)
    if rows is not None and len(rows) <= DRIVER_PAIRS:
        rank = _driver_pagerank(spark, rows, iterations, damping)
        empty = not rows
    else:
        nodes = (pairs.select(F.col("src").alias("id"))
                 .union(pairs.select(F.col("dst").alias("id")))
                 .distinct().localCheckpoint())
        n = nodes.count()
        empty = n == 0
        rank = nodes if empty else _distributed_pagerank(
            pairs, nodes, n, iterations, damping)
    if empty:
        return rank.select("id", F.lit(0.0).alias("rank"),
                           F.lit(0).cast("long").alias("rank_pos"))
    from pyspark.sql.window import Window

    top = (rank.select("id", F.round("rank", 6).alias("rank"))
           .orderBy(F.desc("rank"), F.asc("id")).limit(top_k))
    w = Window.partitionBy(
        F.substring(F.col("id").cast("string"), 1, 0)
    ).orderBy(F.desc("rank"), F.asc("id"))
    return top.withColumn("rank_pos",
                          F.row_number().over(w).cast("long"))


def _driver_pagerank(spark, pairs, iterations: int, damping: float):
    """The iterations of :func:`kg_pagerank` over driver-held (src, dst)
    pairs, as an (id, rank) JVM-local relation."""
    import pyarrow as pa

    outdeg: dict = {}
    for src, _ in pairs:
        outdeg[src] = outdeg.get(src, 0) + 1
    ids = set(outdeg).union(dst for _, dst in pairs)
    n = len(ids)
    rank = dict.fromkeys(ids, 1.0 / n) if n else {}
    for _ in range(iterations):
        c: dict = {}
        for src, dst in pairs:
            c[dst] = c.get(dst, 0.0) + rank[src] / outdeg[src]
        rank = {v: (1.0 - damping) / n + damping * c.get(v, 0.0) for v in ids}
    return spark.createDataFrame(pa.table({
        "id": pa.array(list(rank), pa.int64()),
        "rank": pa.array(list(rank.values()), pa.float64()),
    }))


def _distributed_pagerank(pairs, nodes, n: int, iterations: int,
                          damping: float):
    """The iterations of :func:`kg_pagerank` as Spark joins over the
    checkpointed ``nodes`` frame of ``n`` ids: an (id, rank) frame."""
    outdeg = pairs.groupBy("src").agg(F.count("*").alias("outdeg"))
    wedges = pairs.join(outdeg, "src").localCheckpoint()
    rank = nodes.select("id", (F.lit(1.0) / n).alias("rank"))
    for _ in range(iterations):
        contrib = (
            wedges.join(rank, wedges["src"] == rank["id"])
            .groupBy(F.col("dst").alias("cid"))
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("c"))
        )
        rank = (
            nodes.join(contrib, nodes["id"] == contrib["cid"], "left")
            .select("id", (F.lit((1.0 - damping) / n)
                           + damping * F.coalesce("c", F.lit(0.0))
                           ).alias("rank"))
            .localCheckpoint()
        )
    return rank


# per-pivot adjacency cap for wedge generation: bounds the wedge join's
# fan-out at C(_MAX_ADJ, 2) rows per vertex (the hot-key pattern of stage 3's
# _MAX_BUCKET for LSH buckets, here for "patients"-type hub entities whose
# deg² wedges would otherwise dominate the job). Exact while
# every vertex's degree is <= the cap; beyond it, a deterministic unbiased
# sample (salted-hash order, mirrored verbatim in the DuckDB oracle).
_MAX_ADJ = 256


def _capped_adjacency(und, max_adj: int = _MAX_ADJ):
    """Keep at most ``max_adj`` neighbors per wedge-pivot vertex ``lo``,
    chosen by md5(lo:hi) order — deterministic, engine-agnostic (DuckDB
    renders the identical row_number window, :func:`_driver_triangle_counts`
    sorts by the same key), and unbiased w.r.t. graph
    structure (hash order is independent of ids/degrees)."""
    from pyspark.sql.window import Window

    wa = Window.partitionBy("lo").orderBy(
        F.md5(F.concat_ws(":", F.col("lo").cast("string"),
                          F.col("hi").cast("string"))))
    return (und.withColumn("_r", F.row_number().over(wa))
            .filter(F.col("_r") <= max_adj).drop("_r"))


def _triangle_counts(und, top_k: int, max_adj: int = _MAX_ADJ):
    """Degree-ordered wedge counting over an undirected (lo < hi) edge
    frame. Wedges come from the CAPPED adjacency (bounded fan-out); the
    closing edge probes the FULL edge set, so a triangle survives iff both
    of its pivot edges survive the pivot's cap — the standard bounded
    estimator, exact when max degree <= max_adj."""
    from pyspark.sql.window import Window

    adj = _capped_adjacency(und, max_adj)
    a = adj.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    c = adj.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    wedges = a.join(c, "a").filter(F.col("b") < F.col("c"))
    tri = wedges.join(
        und, (wedges["b"] == und["lo"]) & (wedges["c"] == und["hi"]))
    per_vertex = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("entity_id"))
        .groupBy("entity_id")
        .agg(F.count("*").alias("n_triangles"))
    )
    top = per_vertex.orderBy(F.desc("n_triangles"), "entity_id").limit(top_k)
    w = Window.partitionBy(
        F.substring(F.col("entity_id").cast("string"), 1, 0)
    ).orderBy(F.desc("n_triangles"), F.asc("entity_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def kg_triangle_count(spark, sf_dir, top_k: int = 50,
                      max_adj: int = _MAX_ADJ):
    """Per-entity triangle counts over the UNDIRECTED canonical entity graph
    (distinct (subj_entity, obj_entity) pairs, direction dropped) — the
    clustering-structure signal a KG consumer reads next after degree/rank.

    Scale shape: degree-ordered wedge counting — edges canonicalize to
    (lo, hi); each triangle (a < b < c) is found exactly once by joining
    wedge (a,b)x(a,c) against edge (b,c). Both steps are equi-joins on
    shared keys (no cross join), and the wedge fan-out is BOUNDED: each
    pivot's adjacency is capped at ``max_adj`` neighbors (deterministic
    hash-order sample, see :func:`_capped_adjacency`) before the self-join,
    so a hot vertex contributes at most C(max_adj, 2) wedges instead of
    deg². The DuckDB mirror applies the identical cap, so the whole
    algorithm — cap included — duels.

    Up to :data:`DRIVER_PAIRS` distinct (lo, hi) pairs, one bounded collect
    brings them to the driver, which caps each pivot's adjacency by the same
    md5 order, intersects it with each neighbor's full adjacency set and
    ranks the top-k (:func:`_driver_triangle_counts`); the result goes back
    as a JVM-local relation. Over the bound the pairs are checkpointed and
    counted by the joins above (:func:`_triangle_counts`). Both regimes give
    the same rows and schema (``test_kg_triangle_count_regimes_agree``).

    Worst case at the bound, on a 4-core host, collect included: a band
    graph of 1,024 pivots with exactly ``max_adj`` higher neighbors each
    (262,144 pairs, Σ C(min(deg, max_adj), 2) = 33.4M wedges, nearly all
    closing) takes 8.4–9.8 s in the driver against 22.7 s distributed; 512
    pivots of degree 512, each capped by md5 order (16.7M wedges), 5.2 s
    against 10.2 s. So the pair count alone chooses the regime."""
    edges = _materialized(spark, sf_dir, "edges")
    und = (
        edges.filter(F.col("subj_entity").isNotNull()
                     & F.col("obj_entity").isNotNull()
                     & (F.col("subj_entity") != F.col("obj_entity")))
        .select(F.least("subj_entity", "obj_entity").alias("lo"),
                F.greatest("subj_entity", "obj_entity").alias("hi"))
        .distinct()
    )
    rows = und.limit(DRIVER_PAIRS + 1).collect() if DRIVER_PAIRS else None
    if rows is not None and len(rows) <= DRIVER_PAIRS:
        return _driver_triangle_counts(spark, rows, top_k, max_adj)
    return _triangle_counts(und.localCheckpoint(), top_k, max_adj)


def _driver_triangle_counts(spark, pairs, top_k: int, max_adj: int):
    """:func:`_triangle_counts` over driver-held (lo, hi) pairs: pivot
    ``a``'s capped adjacency intersected with the full adjacency of each of
    its neighbors ``b`` gives the triangles (a, b, c) that pivot finds. An
    (entity_id, n_triangles, rank) JVM-local relation of the top ``top_k``."""
    import heapq
    from collections import Counter

    import pyarrow as pa

    full: dict = {}
    for lo, hi in pairs:
        full.setdefault(lo, set()).add(hi)
    counts: Counter = Counter()
    for a, nbrs in full.items():
        if len(nbrs) > max_adj:
            nbrs = set(sorted(nbrs, key=lambda h: hashlib.md5(
                f"{a}:{h}".encode()).hexdigest())[:max_adj])
        for b in nbrs:
            closing = nbrs & full.get(b, frozenset())
            if closing:
                counts[a] += len(closing)
                counts[b] += len(closing)
                counts.update(closing)
    top = heapq.nsmallest(top_k, counts.items(), key=lambda kv: (-kv[1], kv[0]))
    # the nullability the distributed regime's count and row_number give
    schema = pa.schema([("entity_id", pa.int64()),
                        pa.field("n_triangles", pa.int64(), nullable=False),
                        pa.field("rank", pa.int64(), nullable=False)])
    return spark.createDataFrame(pa.table({
        "entity_id": [v for v, _ in top],
        "n_triangles": [n for _, n in top],
        "rank": list(range(1, len(top) + 1)),
    }, schema=schema))


def _pagerank_oracle(edges_glob: str) -> str:
    """The SAME fixed iteration unrolled as chained CTEs (standard SQL
    forbids aggregation over a recursive reference, so no recursion —
    pr0..pr{k} are plain derived tables)."""
    d = _PR_DAMPING
    sql = [f"""
    WITH pairs AS (
        SELECT DISTINCT subj_entity AS src, obj_entity AS dst
        FROM read_parquet('{edges_glob}')
        WHERE subj_entity IS NOT NULL AND obj_entity IS NOT NULL
          AND subj_entity != obj_entity
    ),
    nodes AS (
        SELECT src AS id FROM pairs UNION SELECT dst FROM pairs
    ),
    nn AS (SELECT count(*) AS n FROM nodes),
    outdeg AS (SELECT src, count(*) AS outdeg FROM pairs GROUP BY src),
    wedges AS (SELECT p.src, p.dst, o.outdeg FROM pairs p
               JOIN outdeg o ON p.src = o.src),
    pr0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""]
    for i in range(_PR_ITERATIONS):
        sql.append(f""",
    c{i} AS (
        SELECT w.dst AS cid, sum(p.rank / w.outdeg) AS c
        FROM wedges w JOIN pr{i} p ON w.src = p.id GROUP BY w.dst
    ),
    pr{i + 1} AS (
        SELECT n.id,
               (1.0 - {d}) / (SELECT n FROM nn)
                   + {d} * coalesce(c.c, 0.0) AS rank
        FROM nodes n LEFT JOIN c{i} c ON n.id = c.cid
    )""")
    sql.append(f"""
    SELECT id, rank, CAST(rank_pos AS BIGINT) AS rank_pos
    FROM (SELECT id, round(rank, 6) AS rank,
                 row_number() OVER (ORDER BY round(rank, 6) DESC, id ASC)
                     AS rank_pos
          FROM pr{_PR_ITERATIONS})
    WHERE rank_pos <= 50""")
    return "".join(sql)


def kg_degree_stats(spark, sf_dir, top_k: int = 20):
    """Graph-degree analytics over the materialized edges: per-entity
    subject-degree (distinct objects), object-degree (distinct subjects) and
    statement support; top hubs by total degree. SQL over the snapshot, so
    it duels like the other downstream aggregations.

    One aggregate counts each distinct (subj, obj) pair's statements; each
    pair then counts once toward its subject's out-degree and once toward
    its object's in-degree, so one sum over both endpoint rows gives every
    column. The two rows come from one read of the aggregate (an explode),
    not a union that would plan the scan and the aggregate once per side."""
    from pyspark.sql.window import Window

    edges = _materialized(spark, sf_dir, "edges")
    pairs = (
        edges.filter(F.col("subj_entity").isNotNull()
                     & F.col("obj_entity").isNotNull())
        .groupBy("subj_entity", "obj_entity").agg(F.count("*").alias("n"))
    )
    one, zero = F.lit(1).cast("long"), F.lit(0).cast("long")
    sides = pairs.select(F.explode(F.array(
        F.struct(F.col("subj_entity").alias("entity_id"),
                 one.alias("out_degree"), F.col("n").alias("out_support"),
                 zero.alias("in_degree"), zero.alias("in_support")),
        F.struct(F.col("obj_entity").alias("entity_id"),
                 zero.alias("out_degree"), zero.alias("out_support"),
                 one.alias("in_degree"), F.col("n").alias("in_support")),
    )).alias("side")).select("side.*")
    deg = (
        sides.groupBy("entity_id")
        .agg(*[F.sum(c).alias(c) for c in (
            "out_degree", "in_degree", "out_support", "in_support")])
        .withColumn("total_degree", F.col("out_degree") + F.col("in_degree"))
    )
    # top-k via TakeOrdered (distributed), THEN rank the k survivors with a
    # single-partition window — never a global window over the full entity
    # set. Column-derived constant partition key (survives constant folding).
    top = deg.orderBy(F.desc("total_degree"), F.asc("entity_id")).limit(top_k)
    w = Window.partitionBy(
        F.substring(F.col("entity_id").cast("string"), 1, 0)
    ).orderBy(F.desc("total_degree"), F.asc("entity_id"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("entity_id", "out_degree", "in_degree", "total_degree",
                "out_support", "in_support",
                F.col("rank").cast("long").alias("rank"))
    )


# rendered last: kg_oracle references helpers defined throughout the module
ORACLE = kg_oracle()

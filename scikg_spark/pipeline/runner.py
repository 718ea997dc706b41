"""Full pipeline composition: pages -> statements -> tuples -> entities ->
graph tables, with per-stage snapshot checkpoints and resume.

Spark lifecycle (SURVEY.md §3, rebuild): one declarative plan per stage; the
only Python boundaries are the two Arrow-vectorized UDF passes (stage 1
extract/parse, stage 2 tag/correct/decode, for every tagger mode). Stage 3
links in the driver or in Spark SQL, with no Python UDF. Catalyst handles
pushdown/pruning; AQE handles skew and partition coalescing.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from scikg_spark.pipeline.fused import extract_tuples
from scikg_spark.pipeline.stage1 import _page_html, extract_statements
from scikg_spark.pipeline.stage3 import attach_entities, link_entities
from scikg_spark.pipeline.stage4 import SnapshotCatalog

# committed partition layout per table; tables not listed are unpartitioned
_PARTITION_BY = {"tuples": ("kind",), "edges": ("kind", "url_bucket")}


def _edges(tuples, phrase_map, map_rows):
    """Stage 4 edges: tuples with entity ids attached, plus ``url_bucket`` —
    Iceberg's bucket(url) partition transform, expressed directly:
    co-locates a url's edges and bounds files-per-partition at scale."""
    return attach_entities(tuples, phrase_map, map_rows).withColumn(
        "url_bucket", F.pmod(F.xxhash64("url"), F.lit(16)).cast("int"))


def _commit(catalog, name, df, append=False):
    """Commit ``df`` as table ``name``'s next snapshot (with ``append``: add
    its rows to the current one), record the commit in ``_metrics.jsonl``
    and read it back. Returns ``(committed frame, manifest)``; downstream
    stages read the committed snapshot, never the lineage that produced
    it."""
    t0 = time.time()
    manifest = catalog.write(df, name, partition_by=_PARTITION_BY.get(name, ()),
                             append=append)
    record = {"resumed": False, "rows": manifest["rows"],
              "added_files": manifest["added_files"]}
    if append:
        record["added_rows"] = manifest["added_rows"]
    record["wall_ms"] = int((time.time() - t0) * 1000)
    catalog.write_metrics(name, record)
    return catalog.read(name), manifest


def _link(catalog, tuples, use_lsh):
    """Stage 3 over ``tuples``; with a catalog, its wall time goes to
    ``_metrics.jsonl`` as the ``link_entities`` record."""
    t0 = time.time()
    linked = link_entities(tuples, use_lsh=use_lsh)
    if catalog is not None:
        catalog.write_metrics("link_entities", {
            "resumed": False, "wall_ms": int((time.time() - t0) * 1000)})
    return linked


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    catalog: SnapshotCatalog | None = None,
    tagger: str = "rule",
    gold: DataFrame | None = None,
    weights_path: str | None = None,
    lang: str | None = "en",
    use_lsh: bool = True,
    resume: bool = True,
    corrections: dict | None = None,
) -> dict[str, DataFrame]:
    """Returns the stage tables. With a catalog, each stage is committed as a
    snapshot and a resumed run reuses every committed stage instead of
    recomputing it."""
    corrections = corrections or {}
    out: dict[str, DataFrame] = {}

    def stage(name, build, force=False):
        """-> (frame, manifest); the manifest is None without a catalog."""
        if catalog is None:
            out[name] = build()
            return out[name], None
        if resume and not force and catalog.is_complete(name):
            out[name] = catalog.read(name)
            catalog.write_metrics(name, {"resumed": True, "wall_ms": 0})
            return out[name], catalog.manifest(name)
        out[name], manifest = _commit(catalog, name, build())
        return out[name], manifest

    statements, _ = stage(
        "statements", lambda: extract_statements(pages, lang=lang))
    tuples, _ = stage("tuples", lambda: extract_tuples(
        statements, tagger=tagger, gold=gold, weights_path=weights_path,
        **corrections))

    # stage 3 produces two tables from one computation; resume only when BOTH
    # are committed. Otherwise recompute once and FORCE-commit both — serving
    # a stale committed half next to a fresh recomputation would make their
    # mutual consistency depend on upstream bit-determinism.
    both_done = (
        catalog is not None and resume
        and catalog.is_complete("entity_nodes") and catalog.is_complete("entity_map"))
    if both_done:
        stage("entity_nodes", None)
        phrase_map, map_manifest = stage("entity_map", None)
    else:
        linked_nodes, linked_map = _link(catalog, tuples, use_lsh)
        stage("entity_nodes", lambda: linked_nodes, force=True)
        phrase_map, map_manifest = stage(
            "entity_map", lambda: linked_map, force=True)
    map_rows = map_manifest["rows"] if map_manifest else phrase_map.count()
    stage("edges", lambda: _edges(tuples, phrase_map, map_rows))
    return out


def run_pipeline_incremental(
    spark: SparkSession,
    new_pages: DataFrame,
    catalog: SnapshotCatalog,
    tagger: str = "rule",
    gold: DataFrame | None = None,
    weights_path: str | None = None,
    lang: str | None = "en",
    use_lsh: bool = True,
    corrections: dict | None = None,
) -> dict:
    """Catch-up run for a NEW batch of pages against an existing warehouse
    — the "next crawl snapshot arrived" production shape.

    Cost model at 10^12 docs: the Arrow extraction passes (stages 1-2)
    dominate, and they are per-document — so they run ONLY on the delta,
    each once: stage 2 reads the delta pages' statements from the committed
    ``statements`` snapshot rather than re-running stage 1.
    ``statements`` and ``tuples`` commit append snapshots that write only
    the delta's rows (history kept: ``incremental_read`` hands downstream
    consumers exactly the delta).
    Entity linking re-runs over the UNION, because canonicalization is
    global — a new mention can bridge two existing clusters and merge
    them — but its input is the distinct-mention vocabulary (sublinear in
    corpus size), never the corpus. Edges re-attach from the committed
    tuples snapshot via the same :func:`attach_entities` as
    :func:`run_pipeline` — a join over already-materialized tuples, no
    re-extraction. Output tables are byte-compatible with a full
    :func:`run_pipeline` over the combined corpus (pinned by
    ``test_partition_resume.py::test_incremental_matches_full_recompute``).

    Returns ``{"tables": stage-DataFrames, "new_statements": n,
    "new_tuples": n}``.
    """
    corrections = corrections or {}

    out: dict[str, DataFrame] = {}
    counts: dict[str, int] = {}

    def append(name, delta):
        if catalog.is_complete(name):
            # idempotent catch-up: a retry never re-appends rows a table
            # already holds — each table's delta is anti-joined against THAT
            # table's committed urls (url-count-sized, broadcastable), so a
            # rerun of a committed batch appends nothing, and a retry after a
            # crash between the two commits lands exactly the missing
            # tuples. Superseding a re-fetch (newer warc_ts wins) is the
            # Iceberg MERGE path on a real cluster — out of scope for the
            # parquet stand-in.
            seen = catalog.read(name).select("url").distinct()
            delta = delta.join(F.broadcast(seen), "url", "left_anti")
        # appended to the current pointer (after a rollback that is not the
        # newest snapshot in the history)
        out[name], manifest = _commit(catalog, name, delta, append=True)
        counts[f"new_{name}"] = manifest["added_rows"]

    append("statements", extract_statements(new_pages, lang=lang))
    # stage 2 decodes the delta pages' COMMITTED statements, so stage 1 runs
    # once per page
    urls = _page_html(new_pages, lang).select("url").distinct()
    append("tuples", extract_tuples(
        out["statements"].join(F.broadcast(urls), "url", "left_semi"),
        tagger=tagger, gold=gold, weights_path=weights_path, **corrections))

    tuples = out["tuples"]
    linked_nodes, linked_map = _link(catalog, tuples, use_lsh)
    out["entity_nodes"], _ = _commit(catalog, "entity_nodes", linked_nodes)
    out["entity_map"], map_manifest = _commit(catalog, "entity_map", linked_map)
    out["edges"], _ = _commit(
        catalog, "edges", _edges(tuples, out["entity_map"], map_manifest["rows"]))
    return {"tables": out, **counts}

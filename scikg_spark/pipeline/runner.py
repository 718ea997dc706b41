"""Full pipeline composition. Both entry points walk one stage chain
through :func:`_walk`, committing each stage to a catalog as a snapshot:
statements -> tuples -> (entity_nodes + entity_map) -> edges. A resumed run
reuses the longest committed prefix of the chain and recomputes the rest;
stages commit in chain order, so a killed job always leaves a committed
prefix and resumes to the tables of a clean run.

The only Python boundaries are the two Arrow-vectorized UDF passes (stage 1
extract/parse, stage 2 tag/correct/decode); stage 3 links in the driver or
in Spark SQL (SURVEY.md §3).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from scikg_spark.pipeline.fused import extract_tuples
from scikg_spark.pipeline.stage1 import _page_html, extract_statements
from scikg_spark.pipeline.stage2 import _check_tagger
from scikg_spark.pipeline.stage3 import attach_entities, link_entities
from scikg_spark.pipeline.stage4 import SnapshotCatalog

# committed partition layout per table; tables not listed are unpartitioned
_PARTITION_BY = {"tuples": ("kind",), "edges": ("kind", "url_bucket")}


def _commit(catalog, name, df, append=False):
    """Commit ``df`` as table ``name``'s next snapshot (with ``append``: add
    its rows to the current one) and record it in ``_metrics.jsonl``.
    Returns ``(committed frame, manifest)``: downstream stages read the
    snapshot, never the lineage that produced it."""
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


def _walk(catalog, head, use_lsh, reuse, append=False):
    """Walk the ``head`` stages (statements, tuples), then linking and edges.
    A stage is ``(tables, build)``: ``build(out)`` gets the committed frames
    so far and returns one frame per table. With ``reuse``, the stages up to
    the first one with an uncommitted table are read back (a ``resumed``
    record per table). ``append`` commits the head as append snapshots.
    Returns ``(frames, manifests)`` by table."""
    out, manifests = {}, {}

    def link(out):
        t0 = time.time()
        linked = link_entities(out["tuples"], use_lsh=use_lsh)
        catalog.write_metrics("link_entities", {
            "resumed": False, "wall_ms": int((time.time() - t0) * 1000)})
        return linked

    def edges(out):
        # url_bucket: Iceberg's bucket(url) transform, co-locating a url's edges
        return [attach_entities(
            out["tuples"], out["entity_map"], manifests["entity_map"]["rows"]
        ).withColumn("url_bucket", F.pmod(F.xxhash64("url"), F.lit(16)).cast("int"))]

    tail = [(("entity_nodes", "entity_map"), link), (("edges",), edges)]
    for i, (tables, build) in enumerate(head + tail):
        reuse = reuse and all(map(catalog.is_complete, tables))
        if reuse:
            for t in tables:
                out[t], manifests[t] = catalog.read(t), catalog.manifest(t)
                catalog.write_metrics(t, {"resumed": True, "wall_ms": 0})
            continue
        for t, df in zip(tables, build(out)):
            out[t], manifests[t] = _commit(
                catalog, t, df, append=append and i < len(head))
    return out, manifests


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    catalog: SnapshotCatalog,
    tagger: str = "rule",
    gold: DataFrame | None = None,
    weights_path: str | None = None,
    lang: str | None = "en",
    use_lsh: bool = True,
    resume: bool = True,
    corrections: dict | None = None,
) -> dict[str, DataFrame]:
    """Commits every stage to ``catalog``; returns the committed tables. With
    ``resume``, reuses the longest committed prefix of the stage chain and
    recomputes the first stage it cannot reuse and every stage after it.
    ``use_lsh`` switches linking's Jaccard edges (see
    :func:`~scikg_spark.pipeline.stage3.link_entities`); without them,
    phrases link by equal norm only. Bad tagger arguments raise ValueError
    before any stage runs."""
    _check_tagger(tagger, gold, weights_path)
    corrections = corrections or {}
    head = [
        (("statements",), lambda out: [extract_statements(pages, lang=lang)]),
        (("tuples",), lambda out: [extract_tuples(
            out["statements"], tagger=tagger, gold=gold,
            weights_path=weights_path, **corrections)]),
    ]
    return _walk(catalog, head, use_lsh, reuse=resume)[0]


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
    """Catch-up run for a NEW batch of pages: :func:`run_pipeline`'s chain
    with no stage reused. Stages 1-2, the per-document passes, run ONLY on
    the delta, each once; ``statements`` and ``tuples`` commit append
    snapshots of its rows. Linking re-runs over the UNION (canonicalization
    is global), but over the mention vocabulary, never the corpus. The
    tables equal a full :func:`run_pipeline` over the combined corpus.
    Returns ``{"tables": frames, "new_statements": n, "new_tuples": n}``."""
    _check_tagger(tagger, gold, weights_path)
    corrections = corrections or {}

    def unseen(name, delta):
        # idempotent: each delta is anti-joined against THAT table's
        # committed urls, so a rerun appends nothing and a retry after a
        # crash between the two commits lands exactly the missing tuples
        # (a newer re-fetch superseding a page is Iceberg's MERGE, not here)
        if catalog.is_complete(name):
            seen = catalog.read(name).select("url").distinct()
            delta = delta.join(F.broadcast(seen), "url", "left_anti")
        return [delta]

    # stage 2 decodes the delta pages' COMMITTED statements, so stage 1 runs
    # once per page
    urls = _page_html(new_pages, lang).select("url").distinct()
    head = [
        (("statements",), lambda out: unseen(
            "statements", extract_statements(new_pages, lang=lang))),
        (("tuples",), lambda out: unseen("tuples", extract_tuples(
            out["statements"].join(F.broadcast(urls), "url", "left_semi"),
            tagger=tagger, gold=gold, weights_path=weights_path,
            **corrections))),
    ]
    out, manifests = _walk(catalog, head, use_lsh, reuse=False, append=True)
    return {"tables": out, **{f"new_{t}": manifests[t]["added_rows"]
                              for t in ("statements", "tuples")}}

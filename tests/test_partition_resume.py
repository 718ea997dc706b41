"""Snapshot resume, rollback and incremental catch-up under the pipeline
runner: a killed or retried job ends content-equal to a clean full run."""

import inspect
import os
from collections import Counter

from pyspark.sql import functions as F


def _lineage_fold(catalog, table):
    """Partition-independent content signature: (total rows, xor of row
    hashes), the table-level fold of the committed manifest."""
    m = catalog.manifest(table)
    return m["rows"], m["checksum"]


def test_rollback_under_resumed_runner(spark, tmp_path, monkeypatch):
    """End-to-end operator story (snapshot surface under the runner): a bad
    rerun commits a CORRUPTED tuples snapshot and is killed mid-linking; the
    operator rolls tuples back one snapshot and reruns with resume — the
    final tables must equal a clean run's content exactly, and nothing may
    recompute."""
    import pytest

    from scikg_spark.pipeline import runner as runner_mod
    from scikg_spark.pipeline.runner import run_pipeline
    from scikg_spark.pipeline.stage1 import build_pages_from_documents
    from scikg_spark.pipeline.stage4 import SnapshotCatalog

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").filter("doc_id < 60")
    pages = build_pages_from_documents(docs).localCheckpoint()
    tables = ("statements", "tuples", "entity_nodes", "entity_map", "edges")

    clean = SnapshotCatalog(spark, str(tmp_path / "clean"))
    run_pipeline(spark, pages, catalog=clean)

    ops = SnapshotCatalog(spark, str(tmp_path / "ops"))
    run_pipeline(spark, pages, catalog=ops)  # good run #1 (snap-1 everywhere)

    # bad rerun: buggy tuples build (drops rows), killed during linking
    good_extract = runner_mod.extract_tuples
    with monkeypatch.context() as m:
        m.setattr(runner_mod, "extract_tuples",
                  lambda stmts, **kw: good_extract(stmts, **kw).limit(3))
        m.setattr(runner_mod, "link_entities",
                  lambda *a, **kw: (_ for _ in ()).throw(RuntimeError("killed")))
        with pytest.raises(RuntimeError, match="killed"):
            run_pipeline(spark, pages, catalog=ops, resume=False)

    # the corruption is committed: a resumed run would serve 3 rows
    assert ops.read("tuples").count() == 3
    hist = ops.history("tuples")
    assert len(hist) >= 2 and hist[-1]["parent"] == hist[0]["snapshot_id"]

    # operator rolls the last committed table back one snapshot and reruns
    ops.rollback("tuples", hist[0]["snapshot_id"])
    out = run_pipeline(spark, pages, catalog=ops, resume=True)
    assert set(tables) <= set(out)

    for table in tables:
        assert _lineage_fold(ops, table) == _lineage_fold(clean, table), table
    # byte-level check on the actual rows of the rolled-back table
    key = lambda r: tuple(str(v) for v in r)
    assert sorted(map(key, ops.read("tuples").collect())) \
        == sorted(map(key, clean.read("tuples").collect()))

    # nothing recomputed after the rollback: the resumed run's metrics tail
    # records resumed=True for every stage
    import json
    with open(str(tmp_path / "ops" / "_metrics.jsonl")) as fh:
        records = [json.loads(line) for line in fh]
    tail = {r["stage"]: r for r in records}  # last record per stage wins
    assert all(tail[t]["resumed"] for t in tables), tail


def test_incremental_matches_full_recompute(spark, tmp_path):
    """run_pipeline_incremental: stage 1-2 run on the DELTA only, linking
    re-runs over the union (global canonicalization), and the final tables
    must equal a full run over the combined corpus exactly. The tuples
    changelog between the two snapshots must be exactly the new batch's
    tuples (no removals — append-only growth)."""
    from scikg_spark.pipeline.runner import (
        run_pipeline, run_pipeline_incremental)
    from scikg_spark.pipeline.stage1 import build_pages_from_documents
    from scikg_spark.pipeline.stage4 import SnapshotCatalog

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages_a = build_pages_from_documents(
        docs.filter("doc_id < 60")).localCheckpoint()
    pages_b = build_pages_from_documents(
        docs.filter("doc_id >= 60 AND doc_id < 100")).localCheckpoint()
    pages_all = build_pages_from_documents(
        docs.filter("doc_id < 100")).localCheckpoint()

    inc = SnapshotCatalog(spark, str(tmp_path / "inc"))
    run_pipeline(spark, pages_a, catalog=inc)
    snap_before = inc.history("tuples")[-1]["snapshot_id"]
    report = run_pipeline_incremental(spark, pages_b, inc)
    assert report["new_tuples"] > 0 and report["new_statements"] > 0

    full = SnapshotCatalog(spark, str(tmp_path / "full"))
    run_pipeline(spark, pages_all, catalog=full)

    def multiset(df, cols):
        return sorted(map(tuple, df.select(*cols).collect()))

    flat = ("url", "doc_id", "stmt_id", "kind", "subj", "pred", "obj")
    for table, cols in (
            ("tuples", flat),
            ("edges", flat + ("subj_entity", "obj_entity")),
            ("entity_map", ("phrase", "entity_id"))):
        assert multiset(inc.read(table), cols) == \
            multiset(full.read(table), cols), table

    # the changelog hands downstream consumers exactly the delta
    added, removed = inc.incremental_read("tuples", snap_before)
    assert removed.count() == 0
    assert added.count() == report["new_tuples"]
    b_docs = {r["doc_id"] for r in pages_b.select(
        F.expr("cast(regexp_extract(url, '([0-9]+)$', 1) as bigint)")
        .alias("doc_id")).collect()}
    assert {int(r["doc_id"]) for r in
            added.select("doc_id").distinct().collect()} <= b_docs


def test_incremental_rerun_is_idempotent(spark, tmp_path):
    """Crash-retry safety: re-submitting the SAME batch must not
    double-append — already-warehoused urls are anti-joined out before
    extraction, so the rerun is a no-op on every table."""
    from scikg_spark.pipeline.runner import (
        run_pipeline, run_pipeline_incremental)
    from scikg_spark.pipeline.stage1 import build_pages_from_documents
    from scikg_spark.pipeline.stage4 import SnapshotCatalog

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages_a = build_pages_from_documents(
        docs.filter("doc_id < 40")).localCheckpoint()
    pages_b = build_pages_from_documents(
        docs.filter("doc_id >= 40 AND doc_id < 60")).localCheckpoint()

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    run_pipeline(spark, pages_a, catalog=cat)
    first = run_pipeline_incremental(spark, pages_b, cat)
    assert first["new_tuples"] > 0
    rows_after = {t: cat.manifest(t)["rows"]
                  for t in ("statements", "tuples", "edges")}

    again = run_pipeline_incremental(spark, pages_b, cat)  # same batch
    assert again["new_statements"] == 0 and again["new_tuples"] == 0
    assert {t: cat.manifest(t)["rows"]
            for t in ("statements", "tuples", "edges")} == rows_after

    # each catch-up commit leaves one metrics record with the parquet files
    # it wrote, appends with the rows they added, and linking one record
    # of its own
    import json
    with open(str(tmp_path / "wh" / "_metrics.jsonl")) as fh:
        records = [json.loads(line) for line in fh]
    stages = ["statements", "tuples", "link_entities", "entity_nodes",
              "entity_map", "edges"]
    assert [r["stage"] for r in records] == stages * 3
    for run, report in ((1, first), (2, again)):
        for r in records[6 * run:6 * run + 6]:
            assert not r["resumed"] and r["wall_ms"] >= 0, r
            if r["stage"] == "link_entities":
                assert set(r) == {"stage", "resumed", "wall_ms"}, r
                continue
            snap = cat.history(r["stage"])[run]
            assert r["added_files"] == snap["added_files"] == sum(
                name.endswith(".parquet") for _, _, names in
                os.walk(tmp_path / "wh" / r["stage"] / snap["dirs"][-1])
                for name in names), r
            if r["stage"] in ("statements", "tuples"):
                assert r["added_rows"] == report[f"new_{r['stage']}"], r
            else:
                assert "added_rows" not in r, r
    assert records[-1]["rows"] == rows_after["edges"]


def test_incremental_retry_completes_partial_append(spark, tmp_path,
                                                    monkeypatch):
    """Crash WINDOW between the two snapshot commits (ADVICE r5, medium):
    the first incremental attempt dies after committing statements but
    before committing tuples. The retry must re-extract the batch and
    append the missing tuples (and edges) — not drop it because its urls
    already sit in statements — and the warehouse must end content-equal
    to a full recompute over the combined corpus."""
    import pytest

    from scikg_spark.pipeline.runner import (
        run_pipeline, run_pipeline_incremental)
    from scikg_spark.pipeline.stage1 import build_pages_from_documents
    from scikg_spark.pipeline.stage4 import SnapshotCatalog

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages_a = build_pages_from_documents(
        docs.filter("doc_id < 40")).localCheckpoint()
    pages_b = build_pages_from_documents(
        docs.filter("doc_id >= 40 AND doc_id < 60")).localCheckpoint()
    pages_all = build_pages_from_documents(
        docs.filter("doc_id < 60")).localCheckpoint()

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    run_pipeline(spark, pages_a, catalog=cat)
    stmt_rows_before = cat.manifest("statements")["rows"]
    tuple_rows_before = cat.manifest("tuples")["rows"]

    real_write = SnapshotCatalog.write
    armed = {"on": True}

    def crashing(self, df, table, partition_by=(), **kw):
        if armed["on"] and table == "tuples":
            raise RuntimeError("injected crash between commits")
        return real_write(self, df, table, partition_by=partition_by, **kw)

    monkeypatch.setattr(SnapshotCatalog, "write", crashing)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_pipeline_incremental(spark, pages_b, cat)
    # the partial state the bug report describes: statements grew, tuples
    # did not
    assert cat.manifest("statements")["rows"] > stmt_rows_before
    assert cat.manifest("tuples")["rows"] == tuple_rows_before

    armed["on"] = False
    report = run_pipeline_incremental(spark, pages_b, cat)
    assert report["new_tuples"] > 0          # the retry lands the tuples
    assert report["new_statements"] == 0     # without double-appending

    full = SnapshotCatalog(spark, str(tmp_path / "full"))
    run_pipeline(spark, pages_all, catalog=full)

    def multiset(df, cols):
        return sorted(map(tuple, df.select(*cols).collect()))

    flat = ("url", "doc_id", "stmt_id", "kind", "subj", "pred", "obj")
    for table, cols in (
            ("tuples", flat),
            ("edges", flat + ("subj_entity", "obj_entity")),
            ("entity_map", ("phrase", "entity_id"))):
        assert multiset(cat.read(table), cols) == \
            multiset(full.read(table), cols), table


def _sf0001_pages(spark, lo, hi):
    import os

    from conftest import TESTDATA
    from scikg_spark.pipeline.stage1 import build_pages_from_documents

    docs = spark.read.parquet(
        os.path.join(TESTDATA, "sf0.001", "documents.parquet"))
    return build_pages_from_documents(
        docs.filter(f"doc_id >= {lo} AND doc_id < {hi}")).localCheckpoint()


def test_resume_recomputes_from_first_uncommitted_stage(spark, tmp_path):
    """A resumed run reuses the longest committed prefix of the stage chain
    and recomputes every stage after it. With only ``entity_map``'s manifest
    gone, stage 3 links once and recommits both of its tables, and
    ``edges`` is recommitted too (it is committed, but built on the old
    link); ``statements`` and ``tuples`` are reused, and all five tables
    equal a clean run's."""
    import json

    from scikg_spark.pipeline.runner import run_pipeline
    from scikg_spark.pipeline.stage4 import SnapshotCatalog

    pages = _sf0001_pages(spark, 0, 30)
    tables = ("statements", "tuples", "entity_nodes", "entity_map", "edges")

    def content(df):
        return df.schema.json(), sorted(repr(tuple(r)) for r in df.collect())

    clean = SnapshotCatalog(spark, str(tmp_path / "clean"))
    run_pipeline(spark, pages, clean)

    wh = tmp_path / "wh"
    run_pipeline(spark, pages, SnapshotCatalog(spark, str(wh)))
    os.remove(wh / "entity_map" / "manifest.json")
    with open(wh / "_metrics.jsonl") as fh:
        n_first = len(fh.readlines())
    cat = SnapshotCatalog(spark, str(wh))
    run_pipeline(spark, pages, cat, resume=True)

    with open(wh / "_metrics.jsonl") as fh:
        rerun = [json.loads(line) for line in fh][n_first:]
    assert [(r["stage"], r["resumed"]) for r in rerun] == [
        ("statements", True), ("tuples", True), ("link_entities", False),
        ("entity_nodes", False), ("entity_map", False), ("edges", False)]
    for t in tables:
        assert content(cat.read(t)) == content(clean.read(t)), t


def test_bad_tagger_arguments_fail_before_the_first_commit(spark, tmp_path):
    """Probe mode without ``weights_path`` raises from either entry point
    before stage 1 runs, so no ``statements`` snapshot is committed."""
    import pytest

    from scikg_spark.pipeline.runner import (
        run_pipeline, run_pipeline_incremental)
    from scikg_spark.pipeline.stage4 import SnapshotCatalog

    pages = _sf0001_pages(spark, 0, 5)
    for entry in (run_pipeline, run_pipeline_incremental):
        catalog = SnapshotCatalog(spark, str(tmp_path / entry.__name__))
        with pytest.raises(ValueError, match="weights_path"):
            entry(spark, pages, catalog, tagger="probe")
        assert catalog.manifest("statements") is None


def test_incremental_counts_after_rollback(spark, tmp_path):
    """new_tuples counts the rows appended to the snapshot being extended
    (the current pointer), not the newest snapshot in the history: after
    tuples is rolled back past a catch-up, repeating that catch-up appends
    the batch again and must report it."""
    from scikg_spark.pipeline.runner import (
        run_pipeline, run_pipeline_incremental)
    from scikg_spark.pipeline.stage4 import SnapshotCatalog

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    run_pipeline(spark, _sf0001_pages(spark, 0, 30), catalog=cat)
    first = cat.manifest("tuples")
    batch = _sf0001_pages(spark, 30, 40)
    report = run_pipeline_incremental(spark, batch, cat)
    assert report["new_tuples"] > 0

    cat.rollback("tuples", first["snapshot_id"])
    again = run_pipeline_incremental(spark, batch, cat)
    assert again["new_statements"] == 0     # statements kept the batch
    assert again["new_tuples"] == report["new_tuples"]
    assert again["new_tuples"] == cat.manifest("tuples")["rows"] - first["rows"]
    added, removed = cat.incremental_read("tuples", first["snapshot_id"])
    assert removed.count() == 0 and added.count() == again["new_tuples"]


def test_entry_points_call_the_benchmark_hooks(spark, tmp_path, monkeypatch):
    """kgbench's traced run times its layers by wrapping
    runner.link_entities and SnapshotCatalog.write/read/_partition_lineage
    by name (kgbench/workloads.py). All four must exist, and both entry
    points must reach each of the first three; a refactor that bypasses one
    fails here rather than in the traced run's span-coverage gate."""
    from scikg_spark.pipeline import runner
    from scikg_spark.pipeline.stage4 import SnapshotCatalog

    calls = Counter()

    def count(owner, attr, static=False):
        original = getattr(owner, attr)

        def counted(*args, **kwargs):
            calls[attr] += 1
            return original(*args, **kwargs)

        monkeypatch.setattr(owner, attr,
                            staticmethod(counted) if static else counted)

    # the commit observes its fold inside the write job, so no entry point
    # calls _partition_lineage any more; the traced run still wraps it by
    # name as a one-argument static method
    lineage = inspect.getattr_static(SnapshotCatalog, "_partition_lineage")
    assert isinstance(lineage, staticmethod)
    assert list(inspect.signature(lineage.__func__).parameters) == ["df"]

    count(runner, "link_entities")
    count(SnapshotCatalog, "write")
    count(SnapshotCatalog, "read")
    hooks = ("link_entities", "write", "read")
    tables = Counter()
    real_write = SnapshotCatalog.write

    def write(self, df, table, *args, **kwargs):
        tables[table] += 1
        return real_write(self, df, table, *args, **kwargs)

    monkeypatch.setattr(SnapshotCatalog, "write", write)

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    runner.run_pipeline(spark, _sf0001_pages(spark, 0, 10), cat, resume=False)
    built = Counter(calls)
    assert all(built[h] > 0 for h in hooks), built
    built_tables = Counter(tables)
    runner.run_pipeline_incremental(spark, _sf0001_pages(spark, 10, 15), cat)
    assert all(calls[h] > built[h] for h in hooks), (built, calls)
    # the catch-up's appends go through write (the traced run's extraction
    # spans are the statements and tuples writes)
    assert all(tables[t] == built_tables[t] + 1
               for t in ("statements", "tuples")), tables


def test_catchups_match_full_rebuild_for_any_split(spark, tmp_path_factory):
    """For any split of the pages into a base and 1-3 deltas, the build
    followed by the catch-ups in a row ends with all five tables equal to a
    full run over the union (schemas, column order included, and row
    multisets), and every table's snapshot verifies."""
    from hypothesis import given, settings, strategies as st

    from scikg_spark.core.synth import url_for
    from scikg_spark.pipeline.runner import (
        run_pipeline, run_pipeline_incremental)
    from scikg_spark.pipeline.stage4 import SnapshotCatalog, verify_snapshot

    n_docs = 100
    tables = ("statements", "tuples", "entity_nodes", "entity_map", "edges")

    def content(df):
        return df.schema.json(), sorted(repr(tuple(r)) for r in df.collect())

    all_pages = _sf0001_pages(spark, 0, n_docs)
    full = SnapshotCatalog(spark, str(tmp_path_factory.mktemp("full")))
    run_pipeline(spark, all_pages, catalog=full)
    expected = {t: content(full.read(t)) for t in tables}

    @settings(max_examples=3, deadline=None)
    @given(st.integers(1, 3), st.randoms(use_true_random=False))
    def catch_up(n_deltas, rng):
        part = [rng.randint(0, n_deltas) for _ in range(n_docs)]
        pages = [all_pages.filter(F.col("url").isin(
            [url_for(d) for d in range(n_docs) if part[d] == k]))
            for k in range(n_deltas + 1)]
        cat = SnapshotCatalog(spark, str(tmp_path_factory.mktemp("inc")))
        run_pipeline(spark, pages[0], catalog=cat)
        for delta in pages[1:]:
            run_pipeline_incremental(spark, delta, cat)
        for t in tables:
            assert content(cat.read(t)) == expected[t], t
            assert verify_snapshot(cat, t)["ok"], t

    catch_up()
